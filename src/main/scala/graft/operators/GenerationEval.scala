package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-generation overlap metrics — the eval tier for SUMMARIZATION /
  * generation quality (Lin 2004, "ROUGE: A Package for Automatic
  * Evaluation of Summaries"). A model-output table pairs each candidate
  * text with its reference; ROUGE-N is n-gram overlap with CLIPPED
  * counts (each reference gram credits at most as many candidate
  * occurrences as the reference itself has — the anti-gaming rule that
  * separates ROUGE from naive gram-set Jaccard: a candidate repeating
  * one reference word 50× scores 1/50 precision, not 1).
  *
  * Exactness: gram identity is the literal space-joined token string
  * (the q87 n-gram-familiarity discipline — no hash, no collision
  * caveat); counts and clipped overlaps are exact BIGINTs; each
  * emitted metric is ONE closing integral division in 2^20 fixed point
  * (`posIntDiv` — exact floor, the oracle replays `// ` bit-for-bit)
  * plus its exact 2^-20 double rescale.
  *
  * Scale shape: single-reference metrics ([[rougeN]], [[rougeL]],
  * [[chrFComponents]]) are ONE codegen'd projection each — gram
  * arrays build and sort row-locally (the shingle machinery is
  * HOF-trap-safe) and clipped overlaps come from the native
  * two-pointer [[graft.functions.multisetIntersectSorted]] /
  * [[graft.functions.lcsTokenLength]] kernels: no explode, no
  * (pair, gram) hash aggregate, no shuffle. [[bleu]]'s MULTI-reference
  * clipping (max over references per gram) rides the same discipline
  * through [[graft.functions.multisetClipMaxRef]] after one bounded
  * collect of each candidate's reference texts. Nothing is ever
  * all-pairs: the caller supplies WHICH candidate pairs with WHICH
  * reference — this operator never generates candidates.
  */
object GenerationEval {

  /** Per-pair ROUGE-N precision / recall / F1 with clipped counts.
    *
    * `overlap = Σ_g min(cand_count(g), ref_count(g))`;
    * `P = overlap / |cand grams|`, `R = overlap / |ref grams|`,
    * `F1 = 2·overlap / (|cand| + |ref|)` — the harmonic mean collapses
    * to one division because P and R share the `overlap` numerator.
    *
    * Degenerate sides: a side with < n tokens has zero grams — its
    * ratio is NULL (0/0 has no value), while the opposite ratio stays
    * defined (overlap is then 0, so e.g. precision against an empty
    * reference is exactly 0). F1 is NULL only when BOTH sides are
    * empty. NULL texts count as empty.
    *
    * @param pairs   one row per (candidate, reference) pair
    * @param idCol   pair key (unique in `pairs`; the join-back spine)
    * @param candCol candidate (model output) text column name
    * @param refCol  reference (gold) text column name
    * @param n       gram order (1 = unigram ROUGE-1, 2 = ROUGE-2, …)
    * @return one row per pair: (idCol, n_cand_grams, n_ref_grams,
    *         overlap, rouge_p_q20, rouge_r_q20, rouge_f1_q20, rouge_p,
    *         rouge_r, rouge_f1)
    */
  def rougeN(pairs: DataFrame, idCol: String, candCol: String,
             refCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 8, "need 1 <= n <= 8")
    val Q = 1048576L // 2^20
    def grams(c: Column): Column = sort_array(
      graft.functions.shingles(TextAnalysis.tokens(coalesce(c, lit(""))), n))
    // ONE codegen'd projection (the rougeL/chrF kernel discipline):
    // each side's gram array sorts row-locally and the clipped overlap
    // Σ_g min(count_c, count_r) is the native two-pointer multiset
    // merge — no explode, no (pair, gram) hash aggregate, no shuffle,
    // and zero-gram pairs keep their row with no join-back spine.
    def ratioQ(num: Column, den: Column): Column =
      when(den > 0L, graft.functions.posIntDiv(num * Q, den))
    pairs.select(col(idCol),
        grams(col(candCol)).as("__cg"), grams(col(refCol)).as("__rg"))
      .select(col(idCol),
        size(col("__cg")).cast("long").as("n_cand_grams"),
        size(col("__rg")).cast("long").as("n_ref_grams"),
        graft.functions.multisetIntersectSorted(col("__cg"), col("__rg"))
          .as("overlap"))
      .withColumn("rouge_p_q20", ratioQ(col("overlap"), col("n_cand_grams")))
      .withColumn("rouge_r_q20", ratioQ(col("overlap"), col("n_ref_grams")))
      .withColumn("rouge_f1_q20", ratioQ(lit(2L) * col("overlap"),
        col("n_cand_grams") + col("n_ref_grams")))
      .withColumn("rouge_p", col("rouge_p_q20").cast("double") / Q)
      .withColumn("rouge_r", col("rouge_r_q20").cast("double") / Q)
      .withColumn("rouge_f1", col("rouge_f1_q20").cast("double") / Q)
  }

  /** Per-pair ROUGE-L: precision / recall / F1 from the LONGEST COMMON
    * SUBSEQUENCE of the two token sequences (Lin 2004 §3) — the
    * order-sensitive companion to [[rougeN]]: scattered word overlap
    * scores low, preserved sentence structure scores high, without
    * fixing a gram order n.
    *
    * The LCS runs through [[graft.functions.lcsTokenLength]] — a native
    * codegen'd O(n·m) two-row DP — so the whole operator is a PURE
    * PROJECTION: no explode, no aggregate, no shuffle; at 100 TB it is
    * one codegen'd scan of the pair table. Both sides are truncated to
    * `maxTokens` first (the quadratic kernel needs a stated bound — the
    * [[Profiling]] maxSupport discipline; standard ROUGE tooling
    * truncates likewise), and the reported token counts are the
    * TRUNCATED lengths, so every emitted ratio is exactly consistent
    * with its numerator.
    *
    * Metrics are one 2^20 closing integral division each (same NULL
    * rules as [[rougeN]]: a side with zero tokens has NULL ratio, F1
    * NULL only when both are empty).
    *
    * @return one row per pair: (idCol, n_cand_tokens, n_ref_tokens,
    *         lcs_len, rouge_l_p_q20, rouge_l_r_q20, rouge_l_f1_q20,
    *         rouge_l_p, rouge_l_r, rouge_l_f1)
    */
  def rougeL(pairs: DataFrame, idCol: String, candCol: String,
             refCol: String, maxTokens: Int = 256): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 4096,
      "need 1 <= maxTokens <= 4096 (quadratic-kernel bound)")
    val Q = 1048576L
    def toks(c: Column): Column =
      slice(TextAnalysis.tokens(coalesce(c, lit(""))), 1, maxTokens)
    def ratioQ(num: Column, den: Column): Column =
      when(den > 0L, graft.functions.posIntDiv(num * Q, den))
    pairs.select(col(idCol),
        toks(col(candCol)).as("__ct"), toks(col(refCol)).as("__rt"))
      .select(col(idCol),
        size(col("__ct")).cast("long").as("n_cand_tokens"),
        size(col("__rt")).cast("long").as("n_ref_tokens"),
        graft.functions.lcsTokenLength(col("__ct"), col("__rt"))
          .as("lcs_len"))
      .withColumn("rouge_l_p_q20", ratioQ(col("lcs_len"),
        col("n_cand_tokens")))
      .withColumn("rouge_l_r_q20", ratioQ(col("lcs_len"),
        col("n_ref_tokens")))
      .withColumn("rouge_l_f1_q20", ratioQ(lit(2L) * col("lcs_len"),
        col("n_cand_tokens") + col("n_ref_tokens")))
      .withColumn("rouge_l_p", col("rouge_l_p_q20").cast("double") / Q)
      .withColumn("rouge_l_r", col("rouge_l_r_q20").cast("double") / Q)
      .withColumn("rouge_l_f1", col("rouge_l_f1_q20").cast("double") / Q)
  }

  /** Per-candidate BLEU components (Papineni et al. 2002, "BLEU: a
    * Method for Automatic Evaluation of Machine Translation") with
    * MULTI-REFERENCE clipping — the MT/generation eval whose two rules
    * ROUGE lacks: (1) a candidate gram credits at most the MAX count
    * any single reference gives it (`mrc = max over refs`), and (2) the
    * brevity-penalty length `r` is the length of the CLOSEST reference
    * (ties to the SHORTER — the NIST/NLTK convention, pinned so `r` is
    * a deterministic function of the reference set).
    *
    * Exactness: per-order numerators/denominators are exact BIGINTs.
    * The geometric mean over orders 1..4 is computed WITHOUT
    * transcendentals: each precision is first quantized to 2^10
    * (`floor(num·1024/den)` — exact integral division), the four
    * quantized values multiply to P ≤ 2^40 (exactly representable in a
    * double), and GM = sqrt(sqrt(P)) uses only IEEE-754 sqrt, which is
    * CORRECTLY ROUNDED on every engine — so `bleu_gm_q20 =
    * floor(GM·1024)` (= GM_true·2^20 up to the stated 2^-10 per-order
    * quantization) is bit-identical cross-engine. The brevity penalty's
    * exp(1 − r/c) has no such guarantee, so it is NOT folded in:
    * `c`, `r`, and `bp_applies = c < r` are emitted exactly and the
    * caller applies exp downstream if it wants the headline scalar.
    *
    * Degenerates: a candidate with < 4 tokens has a zero denominator at
    * some order — `bleu_gm_q20` is NULL (sentence-BLEU is undefined
    * there; the standard fix is [[bleuCorpus]], whose pooled
    * denominators never vanish on a non-empty corpus). A candidate with
    * NO reference rows clips every gram to 0 (gm = 0) and has NULL `r`.
    *
    * Scale shape: the [[chrFComponents]] discipline extended to the
    * multi-reference clip — ONE bounded collect_list of each
    * candidate's RAW reference texts (reference fan-in per candidate is
    * the caller's eval protocol, typically ≤ 4 — the MBR k-bound
    * discipline), one candidate-spine join, then the whole metric is a
    * codegen'd PROJECTION: per order, the candidate gram array sorts
    * row-locally and the clipped numerator Σ_g min(cc, max_r rc_r)
    * comes from the native single-pass
    * [[graft.functions.multisetClipMaxRef]] kernel; the closest-
    * reference length is a row-local `array_min` over (|rl−c|, rl)
    * structs — the struct ordering IS the NIST shorter-wins tie rule.
    * No gram explode, no (id, order, gram, ref) aggregates, no window:
    * the only shuffled bytes are the raw reference texts (the first cut
    * moved 14.2 MB of exploded gram structs at sf0.1 — the suite's
    * largest new-query shuffle; this plan moves only the text bytes).
    *
    * Protocol guards (enforced, not just documented): each ROW of
    * `refs` is one reference, and `refIdCol` must be DISTINCT within a
    * candidate — a duplicated (or NULL) reference id fails the query
    * loudly instead of silently counting as two independent references
    * (the exploded-aggregate form pooled duplicates into one; neither
    * reading is trustworthy, so the ambiguity is rejected). The per-
    * candidate reference fan-in is capped at `maxRefsPerCandidate`
    * (default 64 — generous against the typical ≤4-ref eval protocol):
    * the plan collects each candidate's raw reference texts into ONE
    * row, so a skewed id would otherwise build an unbounded row and
    * OOM an executor where the old exploded shape degraded gracefully.
    * Raise the cap deliberately if a protocol really fans in wider.
    *
    * @param pairs   one row per candidate: (idCol, candCol)
    * @param refs    one row per (candidate, reference): (idCol,
    *                refIdCol, refTextCol); multiple rows per id,
    *                refIdCol distinct within an id
    * @param maxRefsPerCandidate loud upper bound on reference rows per
    *                candidate (collected-row size guard)
    * @return one row per candidate: (idCol, n_cand_tokens, r_ref_len,
    *         bp_applies, p1_num..p4_num, p1_den..p4_den, bleu_gm_q20,
    *         bleu_gm)
    */
  def bleu(pairs: DataFrame, idCol: String, candCol: String,
           refs: DataFrame, refIdCol: String, refTextCol: String,
           maxRefsPerCandidate: Int = 64)
      : DataFrame = {
    require(maxRefsPerCandidate >= 1, "need maxRefsPerCandidate >= 1")
    val orders = 1 to 4
    // ONE bounded collect per candidate — the operator's only shuffle
    // moves raw reference texts. Order within the collected array is
    // nondeterministic but every consumer below is order-independent
    // (max over refs; array_min over structs). The guards ride the
    // __refs expression itself (not a droppable side column), so
    // column pruning can never optimize them away: collect_set of the
    // ids costs id-sized buffer bytes, no Expand, no second shuffle.
    val refsAgg = refs
      .select(col(idCol).as("__id"), col(refIdCol).as("__rid"),
        coalesce(col(refTextCol), lit("")).as("__rt"))
      .groupBy("__id")
      .agg(collect_list(col("__rt")).as("__rl"),
        count(lit(1)).as("__nr"),
        size(collect_set(col("__rid"))).as("__ndr"))
      .select(col("__id"),
        when(col("__nr") > lit(maxRefsPerCandidate.toLong),
          raise_error(concat(lit("bleu: candidate id="),
            col("__id").cast("string"), lit(" has "),
            col("__nr").cast("string"),
            lit(s" reference rows (cap $maxRefsPerCandidate) — " +
              "unbounded per-candidate fan-in would build one giant " +
              "collected row; raise maxRefsPerCandidate deliberately"))))
          .when(col("__ndr").cast("long") =!= col("__nr"),
            raise_error(concat(
              lit(s"bleu: duplicate or NULL $refIdCol within candidate " +
                "id="), col("__id").cast("string"),
              lit(" — each reference row needs a distinct reference id"))))
          .otherwise(col("__rl")).as("__refs"))
    val base = pairs
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(coalesce(col(candCol), lit(""))).as("__ct"))
      .join(refsAgg, Seq("__id"), "left")
      .select(col("__id"), col("__ct"),
        transform(coalesce(col("__refs"), array().cast("array<string>")),
          r => TextAnalysis.tokens(r)).as("__rts"))
    // Stage the sorted gram arrays as named columns so each is built
    // once (CollapseProject keeps non-cheap producers referenced more
    // than once in their own projection — the rougeN discipline).
    val staged = base.select(
      Seq(col("__id"), size(col("__ct")).cast("long").as("n_cand_tokens"),
        col("__rts")) ++
      orders.map(k => sort_array(
        graft.functions.shingles(col("__ct"), k)).as(s"__cg$k")): _*)
    // closest-reference length: |rl − c| asc, ties to the SHORTER —
    // exactly struct ordering under array_min; empty ref set → NULL
    val withR = staged.select(
      Seq(col("__id"), col("n_cand_tokens"),
        array_min(transform(col("__rts"), rt =>
          struct(abs(size(rt).cast("long") - col("n_cand_tokens")).as("d"),
            size(rt).cast("long").as("rl"))))
          .getField("rl").as("r_ref_len")) ++
      orders.map(k => col(s"__cg$k")) ++
      orders.map(k => transform(col("__rts"), rt =>
        sort_array(graft.functions.shingles(rt, k))).as(s"__rg$k")): _*)
    val q10 = (k: Int) => when(col(s"p${k}_den") > 0L,
      graft.functions.posIntDiv(col(s"p${k}_num") * 1024L,
        col(s"p${k}_den")))
    withR
      .select(Seq(col("__id").as(idCol), col("n_cand_tokens"),
        col("r_ref_len"),
        (col("n_cand_tokens") < col("r_ref_len")).as("bp_applies")) ++
        orders.flatMap(k => Seq(
          graft.functions.multisetClipMaxRef(col(s"__cg$k"), col(s"__rg$k"))
            .as(s"p${k}_num"),
          size(col(s"__cg$k")).cast("long").as(s"p${k}_den"))): _*)
      .withColumn("bleu_gm_q20",
        floor(sqrt(sqrt(
          (q10(1) * q10(2) * q10(3) * q10(4)).cast("double")))
          * 1024.0).cast("long"))
      .withColumn("bleu_gm", col("bleu_gm_q20").cast("double") / 1048576.0)
  }

  /** CORPUS-level BLEU components off [[bleu]]'s per-candidate rows —
    * the pooled form Papineni 2002 actually defines BLEU as: per-order
    * numerators/denominators SUM over the corpus before dividing (so
    * short segments cannot zero the geometric mean), and the brevity
    * lengths pool as `c = Σ c_i`, `r = Σ r_i` (each segment contributes
    * its closest-reference length). Same sqrt-only 2^10-quantized
    * geometric mean; one row out. Candidates with no reference rows
    * contribute zero numerators and nothing to `r` (their `r_ref_len`
    * is NULL) — stated, since it deflates `r` rather than inflating
    * precision.
    */
  def bleuCorpus(perPair: DataFrame): DataFrame = {
    val orders = 1 to 4
    val aggCols = Seq(
      count(lit(1)).as("n_pairs"),
      sum(col("n_cand_tokens")).as("c_total"),
      sum(col("r_ref_len")).as("r_total")) ++
      orders.flatMap(k => Seq(
        sum(col(s"p${k}_num")).as(s"p${k}_num"),
        sum(col(s"p${k}_den")).as(s"p${k}_den")))
    val agg = perPair.agg(aggCols.head, aggCols.tail: _*)
    val q10 = (k: Int) => when(col(s"p${k}_den") > 0L,
      graft.functions.posIntDiv(col(s"p${k}_num") * 1024L,
        col(s"p${k}_den")))
    agg
      .withColumn("bp_applies", col("c_total") < col("r_total"))
      .withColumn("bleu_gm_q20",
        floor(sqrt(sqrt(
          (q10(1) * q10(2) * q10(3) * q10(4)).cast("double")))
          * 1024.0).cast("long"))
      .withColumn("bleu_gm", col("bleu_gm_q20").cast("double") / 1048576.0)
  }

  /** Per-(pair, order) chrF components (Popović 2015, "chrF: character
    * n-gram F-score for automatic MT evaluation") — the
    * tokenization-free eval: whitespace is stripped and overlap is
    * counted over CHARACTER n-grams of orders 1..maxOrder, so
    * morphology-rich or unsegmented text scores on substance rather
    * than on agreeing with a tokenizer.
    *
    * Exactness: the β=2 F-score collapses to ONE rational —
    * P = o/c, R = o/r ⇒ F2 = 5PR/(4P+R) = 5·o/(4r+c) — so each
    * per-order score is exact BIGINTs into one closing 2^20 integral
    * division. No transcendentals anywhere (chrF needs no geometric
    * mean, unlike BLEU).
    *
    * Scale shape: the [[rougeL]] discipline, fully compiled — the
    * WHOLE operator is ONE codegen'd projection: every order's gram
    * counts and clipped overlap Σ_g min(count_c, count_r) come from a
    * single native [[graft.functions.chrfGramOverlaps]] call per pair
    * (substring extraction + one Arrays.sort per side/order + one
    * two-pointer merge, compiled end to end). No explode of grams, no
    * (pair, order, gram) hash aggregate, no shuffle. History: the
    * first cut shuffled 66.5 MB of gram strings at sf0.1; the second
    * cut (row-local HOF arrays + the multiset kernel) moved zero bytes
    * but left ~12 interpreted transform/sort_array evaluations per
    * row — HOFs never enter whole-stage codegen — and still topped the
    * bench at ~17 s; this kernel runs the same math in ~1 s
    * (measured sf0.1, per-query wall). Orders where both sides are empty
    * emit no entry, keeping the original long-format contract; the
    * HOF formulation survives as [[chrFRow]], the streaming twin and
    * executable spec the suite pins this kernel against.
    *
    * Degenerates: an order where BOTH stripped sides are shorter than
    * k yields no row (headline [[chrF]] treats it as ineffective, the
    * sacrebleu effective-order convention); one-sided-empty orders
    * yield F2 = 0 exactly (o = 0, 4r+c > 0). NULL texts count as
    * empty.
    *
    * @return one row per (pair, order): (idCol, k, n_cand_grams,
    *         n_ref_grams, overlap, f2_q20, f2)
    */
  def chrFComponents(pairs: DataFrame, idCol: String, candCol: String,
                     refCol: String, maxOrder: Int = 6): DataFrame = {
    require(maxOrder >= 1 && maxOrder <= 8, "need 1 <= maxOrder <= 8")
    val Q = 1048576L
    // explicit whitespace class, not \s: Java's \s includes U+000B
    // where RE2's (the oracle's) does not — the graft.functions.tokens
    // discipline; VT is pinned as a KEPT character on both engines
    def strip(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "[ \\t\\n\\f\\r]+", "")
    val stripped = pairs.select(col(idCol).as("__id"),
      strip(col(candCol)).as("__cs"), strip(col(refCol)).as("__rs"))
    stripped.select(col("__id"),
        explode(graft.functions.chrfGramOverlaps(
          col("__cs"), col("__rs"), maxOrder)).as("__o"))
      .select(col("__id").as(idCol), col("__o.k").as("k"),
        col("__o.n_cand_grams").as("n_cand_grams"),
        col("__o.n_ref_grams").as("n_ref_grams"),
        col("__o.overlap").as("overlap"))
      .withColumn("f2_q20", graft.functions.posIntDiv(
        lit(5L) * col("overlap") * Q,
        lit(4L) * col("n_ref_grams") + col("n_cand_grams")))
      .withColumn("f2", col("f2_q20").cast("double") / Q)
  }

  /** Headline per-pair chrF2: the arithmetic mean of the per-order F2
    * scores over EFFECTIVE orders (orders where at least one side has
    * a gram — sacrebleu's effective-order rule, so a 3-char text is
    * scored over orders 1..3, not punished with phantom zeros for
    * 4..6). Pinned quantize-then-average: each order is first floored
    * to 2^20 fixed point ([[chrFComponents]]), the mean is one further
    * exact integral division by the effective-order count — so the
    * headline is bit-identical cross-engine at 2^-20 ± the stated
    * per-order quantization. Pairs with NO grams at any order (both
    * texts empty after whitespace strip) keep a row with
    * n_eff_orders = 0 and NULL score.
    *
    * @return one row per pair: (idCol, n_eff_orders, chrf2_q20, chrf2)
    */
  def chrF(pairs: DataFrame, idCol: String, candCol: String,
           refCol: String, maxOrder: Int = 6): DataFrame = {
    val Q = 1048576L
    val per = chrFComponents(pairs, idCol, candCol, refCol, maxOrder)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_eff_orders"), sum("f2_q20").as("__sum"))
    pairs.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_eff_orders"), lit(0L)).as("n_eff_orders"),
        when(col("n_eff_orders") > 0L,
          graft.functions.posIntDiv(col("__sum"), col("n_eff_orders")))
          .as("chrf2_q20"))
      .withColumn("chrf2", col("chrf2_q20").cast("double") / Q)
  }

  /** Minimum-Bayes-risk SELECTION over sampled generations (the
    * consensus decoding rule — Kumar & Byrne 2004, revisited for LLM
    * sampling by Bertsch et al. 2023 "It's MBR All the Way Down"): per
    * task, the chosen sample is the one maximizing summed similarity
    * to its SIBLING samples — the sample most "agreed with", which
    * beats both greedy and majority-vote when answers are free-form
    * text rather than extractable labels ([[graft.queries]] q309's
    * self-consistency needs a parseable answer; MBR does not).
    *
    * Similarity is unigram F1 on token MULTISETS — for each unordered
    * sibling pair, `f1 = 2·Σ_t min(cnt_a, cnt_b) / (len_a + len_b)` —
    * exact BIGINTs into one 2^20 integral division per pair; a
    * candidate's MBR score is the exact integer SUM of its pairwise
    * q20 scores (utility choice pinned: gram-multiset F1, the chrF/
    * ROUGE-1 family, not a model-based metric).
    *
    * Scale shape: one scan → (task, sample, token) bag aggregate, one
    * equi-join of the bag against itself keyed (task, token) — NEVER
    * all-pairs across tasks; fan-out per (task, token) is n² with n =
    * samples-per-task, bounded by the sampling protocol (the eval-k,
    * typically 4–64 — the bounded-domain contract), one (task, sa, sb)
    * aggregate, one (task, sa) aggregate, one task-partitioned
    * row_number window (deterministic: score DESC, sample ASC).
    *
    * Degenerates: samples with no tokens (or no overlap with any
    * sibling) score 0 via the sample spine; single-sample tasks win
    * trivially with score 0 and NULL mean.
    *
    * @return one row per task: (taskCol, n_samples, mbr_choice,
    *         mbr_score_q20, mean_sim_q20, mean_sim)
    */
  def mbrSelect(samples: DataFrame, taskCol: String, sampleCol: String,
                textCol: String): DataFrame = {
    val Q = 1048576L
    val bags = samples.select(col(taskCol).as("__t"),
        col(sampleCol).as("__sid"),
        explode(TextAnalysis.tokens(coalesce(col(textCol), lit(""))))
          .as("__tok"))
      .groupBy("__t", "__sid", "__tok").agg(count(lit(1)).as("__cnt"))
    val lens = bags.groupBy("__t", "__sid").agg(sum("__cnt").as("__len"))
    val a = bags.select(col("__t"), col("__sid").as("__sa"),
      col("__tok"), col("__cnt").as("__ca"))
    val b = bags.select(col("__t").as("__t2"), col("__sid").as("__sb"),
      col("__tok").as("__tok2"), col("__cnt").as("__cb"))
    val ov = a.join(b, col("__t") === col("__t2") &&
        col("__tok") === col("__tok2") && col("__sa") =!= col("__sb"))
      .groupBy("__t", "__sa", "__sb")
      .agg(sum(least(col("__ca"), col("__cb"))).as("__o"))
    val la = lens.select(col("__t"), col("__sid").as("__sa"),
      col("__len").as("__la"))
    val lb = lens.select(col("__t").as("__tb"), col("__sid").as("__sb"),
      col("__len").as("__lb"))
    val perCand = ov
      .join(la, Seq("__t", "__sa"))
      .join(lb, col("__t") === col("__tb") && ov("__sb") === lb("__sb"))
      .select(col("__t"), col("__sa"),
        graft.functions.posIntDiv(lit(2L) * col("__o") * Q,
          col("__la") + col("__lb")).as("__f1"))
      .groupBy("__t", "__sa").agg(sum("__f1").as("__score"))
    val spine = samples.select(col(taskCol).as("__t"),
      col(sampleCol).as("__sa"))
    val scored = spine.join(perCand, Seq("__t", "__sa"), "left")
      .select(col("__t"), col("__sa"),
        coalesce(col("__score"), lit(0L)).as("__score"))
    val n = spine.groupBy("__t").agg(count(lit(1)).as("n_samples"))
    val w = Window.partitionBy("__t")
      .orderBy(col("__score").desc, col("__sa").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(n, Seq("__t"))
      .select(col("__t").as(taskCol), col("n_samples"),
        col("__sa").as("mbr_choice"), col("__score").as("mbr_score_q20"),
        when(col("n_samples") > 1L,
          graft.functions.posIntDiv(col("__score"),
            col("n_samples") - 1L)).as("mean_sim_q20"))
      .withColumn("mean_sim", col("mean_sim_q20").cast("double") / Q)
  }

  /** ROW-LOCAL ROUGE-N counts — the streaming-safe variant: a pure
    * projection returning struct(n_cand_grams, n_ref_grams, overlap)
    * for one (candidate, reference) pair, no shuffle, composable into a
    * stateless stream (the [[Bpe.maxMatchCounts]] discipline). Clipped
    * overlap is computed per DISTINCT candidate gram via bounded-array
    * HOFs — O(d·(|c|+|r|)) per row, the per-occurrence price of
    * statelessness; prefer [[rougeN]] for batch corpora (its gram
    * aggregate is map-side combinable and never quadratic). Both paths
    * return identical counts (spec-pinned).
    */
  def rougeCounts(cand: Column, ref: Column, n: Int): Column = {
    require(n >= 1 && n <= 8, "need 1 <= n <= 8")
    def grams(c: Column): Column =
      graft.functions.shingles(TextAnalysis.tokens(coalesce(c, lit(""))), n)
    // bind both gram arrays ONCE (the shingles HOF-trap discipline):
    // every inner filter/size reads a lambda-variable field, so the
    // upstream tokenize+shingle runs once per row, not once per gram
    element_at(
      transform(array(struct(grams(cand).as("c"), grams(ref).as("r"))),
        p => {
          val cg = p.getField("c")
          val rg = p.getField("r")
          struct(
            size(cg).cast("long").as("n_cand_grams"),
            size(rg).cast("long").as("n_ref_grams"),
            aggregate(array_distinct(cg), lit(0L), (acc, g) =>
              acc + least(
                size(filter(cg, x => x === g)),
                size(filter(rg, x => x === g))).cast("long"))
              .as("overlap"))
        }),
      1)
  }

  /** ROW-LOCAL chrF2 headline — the streaming-safe variant of [[chrF]]:
    * a pure projection returning struct(n_eff_orders, chrf2_q20) for
    * one (candidate, reference) pair, no per-pair aggregate, no
    * shuffle — composable into a stateless stream (the [[rougeCounts]]
    * discipline). Both stripped sides are bound ONCE (the shingles
    * HOF-trap rule: six orders would otherwise re-run the whitespace
    * regex per order); per-order F2 and the quantize-then-average
    * headline replay [[chrFComponents]]/[[chrF]] exactly, so batch and
    * stream agree bit-for-bit (StreamingSpec pins it). Prefer [[chrF]]
    * for batch corpora — its per-order kernel calls ride whole-stage
    * codegen; the HOF fold here is interpreted.
    */
  def chrFRow(cand: Column, ref: Column, maxOrder: Int = 6): Column = {
    require(maxOrder >= 1 && maxOrder <= 8, "need 1 <= maxOrder <= 8")
    val Q = 1048576L
    def strip(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "[ \\t\\n\\f\\r]+", "")
    element_at(
      transform(array(struct(strip(cand).as("c"), strip(ref).as("r"))),
        p => {
          val cs = p.getField("c")
          val rs = p.getField("r")
          val per = (1 to maxOrder).map { k =>
            val cg = sort_array(graft.functions.charShingles(cs, k))
            val rg = sort_array(graft.functions.charShingles(rs, k))
            struct(size(cg).cast("long").as("nc"),
              size(rg).cast("long").as("nr"),
              graft.functions.multisetIntersectSorted(cg, rg).as("ov"))
          }
          val eff = filter(array(per: _*),
            s => s.getField("nc") + s.getField("nr") > 0L)
          val sumQ = aggregate(eff, lit(0L), (acc, s) =>
            acc + graft.functions.posIntDiv(
              lit(5L) * s.getField("ov") * Q,
              lit(4L) * s.getField("nr") + s.getField("nc")))
          struct(size(eff).cast("long").as("n_eff_orders"),
            when(size(eff) > 0,
              graft.functions.posIntDiv(sumQ, size(eff).cast("long")))
              .as("chrf2_q20"))
        }),
      1)
  }

  /** N-GRAM NOVELTY of generations against a training corpus — the
    * memorization/creativity audit (McCoy et al. 2021 "RAVEN"
    * measurement; Carlini-style verbatim-copy screening at gram
    * granularity): what fraction of each generation's n-gram
    * OCCURRENCES already appear somewhere in the corpus? Novelty near 0
    * at large n flags regurgitation; near 1 at small n flags
    * degenerate/hallucinated vocabulary. The occurrence-weighted form
    * (a generation repeating one corpus gram 50× counts 50 non-novel
    * occurrences) matches the clipped-count discipline of [[rougeN]].
    *
    * Gram identity is the literal space-joined token string (the q87
    * discipline — no hash, no collision caveat). Counts exact BIGINTs;
    * `novelty_q20` is one closing 2^20 integral division; generations
    * with < n tokens keep their row with NULL novelty (0/0).
    *
    * Scale shape: the corpus side reduces to its DISTINCT gram table
    * (bounded by corpus token mass, heavily sublinear in practice —
    * Heaps' law), the generation side to per-(gen, gram) counts; the
    * membership probe is ONE gram-keyed equi-join (never all-pairs —
    * both sides shuffle on the gram key, the MinHash-band shape), then
    * one generation-keyed aggregate and a LEFT join back to the id
    * spine so zero-gram generations survive.
    *
    * @param gen    generation table (one row per generation)
    * @param corpus training-corpus table (the "seen" side)
    * @param n      gram order (verbatim-copy screens use n ≥ 4)
    * @return one row per generation: (idCol, n_grams, n_novel,
    *         novelty_q20, novelty)
    */
  def ngramNovelty(gen: DataFrame, idCol: String, textCol: String,
                   corpus: DataFrame, corpusTextCol: String,
                   n: Int): DataFrame = {
    require(n >= 1 && n <= 8, "need 1 <= n <= 8")
    val Q = 1048576L // 2^20
    def grams(c: Column): Column =
      graft.functions.shingles(TextAnalysis.tokens(coalesce(c, lit(""))), n)
    val seen = corpus
      .select(explode(grams(col(corpusTextCol))).as("__gram"))
      .distinct()
      .withColumn("__seen", lit(1L))
    val counts = gen
      .select(col(idCol), explode(grams(col(textCol))).as("__gram"))
      .groupBy(col(idCol), col("__gram"))
      .agg(count(lit(1)).as("__m"))
      .join(seen, Seq("__gram"), "left")
      .groupBy(idCol)
      .agg(sum(col("__m")).cast("long").as("__ng"),
        sum(when(col("__seen").isNull, col("__m")).otherwise(0L))
          .cast("long").as("__nv"))
    gen.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("__ng"), lit(0L)))
      .withColumn("n_novel", coalesce(col("__nv"), lit(0L)))
      .withColumn("novelty_q20", when(col("n_grams") > 0L,
        graft.functions.posIntDiv(col("n_novel") * Q, col("n_grams"))))
      .withColumn("novelty", col("novelty_q20").cast("double") / Q)
      .select(idCol, "n_grams", "n_novel", "novelty_q20", "novelty")
  }
}
