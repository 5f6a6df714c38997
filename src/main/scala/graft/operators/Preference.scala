package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Preference-data operators — the analysis layer an RLHF / model-eval
  * pipeline runs over pairwise comparisons: derive a win matrix from
  * per-subject scores, then fit Bradley-Terry strengths (the model
  * behind Elo-style leaderboards and reward-model calibration checks)
  * with the Hunter (2004) minorization-maximization iteration.
  *
  * Everything is exact-integer: scores are caller-quantized longs, win
  * counts are counts, and the MM iteration runs in 2²⁰ fixed point with
  * 2⁴⁰-scaled integral divisions — deterministic in any engine (the
  * DuckDB oracle unrolls the same iterations as chained CTEs), where a
  * float MM loop would be unreproducible across summation orders.
  *
  * Scale shape: the corpus-sized work is [[pairwiseWins]] — one
  * hash-aggregate to per-(subject, item) scores, one subject-local
  * self-join whose fan-out is bounded by the ITEM DOMAIN (model
  * variants, event types — the Kendall-style bounded-domain contract:
  * quantize or cap first if items are unbounded), one hash-aggregate to
  * the |items|² win matrix. [[bradleyTerryStrengths]] then runs on that
  * BOUNDED matrix — collected like k-means centroids / PQ codebooks,
  * never corpus-sized.
  */
object Preference {

  /** Strength fixed point: 2²⁰ (initial rating 1.0 ≙ 1048576). */
  val StrengthScale: Long = 1L << 20

  /** Division scale for MM terms: 2⁴⁰ (keeps n·2⁴⁰ < 2⁶³ for pair
    * counts under ~2²²; rescale counts first beyond that — the BT
    * fixpoint is invariant to a common count factor).
    */
  val DivScale: Long = 1L << 40

  /** Pairwise win counts between items, judged per subject: item `a`
    * beats item `b` for a subject when the subject's total (summed
    * integer) score for `a` exceeds that for `b`. The implicit-
    * preference derivation used when explicit A/B labels are absent;
    * feed explicit comparisons straight to [[bradleyTerryStrengths]]
    * instead when you have them.
    *
    * @param score integer-valued expression (quantize floats first,
    *              e.g. `floor(value·100)`); summed exactly per
    *              (subject, item)
    * @return one row per unordered item pair with any shared subject:
    *         (item_a < item_b, wins_a, wins_b, ties) — ties reported
    *         but excluded from the BT comparison count downstream
    */
  def pairwiseWins(df: DataFrame, subjectCol: String, itemCol: String,
                   score: Column): DataFrame = {
    val per = df.groupBy(col(subjectCol).as("__s"), col(itemCol).as("__i"))
      .agg(sum(score.cast(LongType)).as("__m"))
    val a = per.select(col("__s"), col("__i").as("item_a"),
      col("__m").as("__ma"))
    val b = per.select(col("__s"), col("__i").as("item_b"),
      col("__m").as("__mb"))
    a.join(b, "__s").filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(when(col("__ma") > col("__mb"), 1)).as("wins_a"),
        count(when(col("__mb") > col("__ma"), 1)).as("wins_b"),
        count(when(col("__ma") === col("__mb"), 1)).as("ties"))
  }

  /** Win matrix from EXPLICIT (winner, loser) comparison rows — the
    * shape real RLHF/eval preference data arrives in (an annotator or
    * judge emits one decided comparison per row; ties simply have no
    * row). [[pairwiseWins]] DERIVES implicit comparisons when only
    * scores exist; this aggregates the explicit ones: normalize each
    * row to the unordered (item_a < item_b) key, count wins per side —
    * ONE hash aggregate (map-side combinable) over corpus-sized input,
    * |items|² bounded output, ready for [[bradleyTerryStrengths]].
    *
    * Self-comparisons (winner = loser) and NULL sides are dropped — a
    * degenerate row carries no BT information.
    *
    * @return one row per unordered item pair with any decided
    *         comparison: (item_a < item_b, wins_a, wins_b)
    */
  def winMatrixFromComparisons(df: DataFrame, winnerCol: String,
                               loserCol: String): DataFrame =
    df.select(col(winnerCol).cast(StringType).as("__w"),
        col(loserCol).cast(StringType).as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
      .select(least(col("__w"), col("__l")).as("item_a"),
        greatest(col("__w"), col("__l")).as("item_b"),
        (col("__w") < col("__l")).as("__awin"))
      .groupBy("item_a", "item_b")
      .agg(count(when(col("__awin"), 1)).as("wins_a"),
        count(when(!col("__awin"), 1)).as("wins_b"))

  /** Bradley-Terry strengths on a BOUNDED win matrix via `iters` fixed-
    * point Hunter-MM JACOBI rounds (every round reads only the previous
    * round's ratings — iteration order cannot matter):
    *
    *   t_ij = ⌊n_ij·2⁴⁰ / (r_i + r_j)⌋   (0 when r_i + r_j = 0),
    *   d_i  = Σ_j t_ij,   r_i ← ⌊W_i·2⁴⁰ / d_i⌋   (unchanged when d=0)
    *
    * with n_ij = wins_i + wins_j (decided comparisons; ties carry no
    * BT information), W_i = total wins, r⁰ = 2²⁰. All longs, all
    * positive-operand floor divisions — bit-identical to the oracle's
    * `//` chain. Ratings stay < 2⁵³ (each round's max at most doubles:
    * r' = W·2⁴⁰/d ≤ r_i + max_j r_j since d ≥ Σn·2⁴⁰/(r_i+r_max)).
    *
    * The matrix is collected (the k-means-centroid / PQ-codebook
    * bounded-collect discipline): |items|² rows of four scalars, never
    * corpus-sized.
    *
    * @return one row per item: (item, wins, comparisons, strength_fp,
    *         strength = strength_fp/2²⁰) — strength ≈1 is average;
    *         ratios estimate win odds: P(i beats j) ≈ s_i/(s_i+s_j)
    */
  def bradleyTerryStrengths(wins: DataFrame, aCol: String, bCol: String,
                            winsACol: String, winsBCol: String,
                            iters: Int = 8): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    val spark = wins.sparkSession
    val rows = wins.select(col(aCol).cast(StringType),
        col(bCol).cast(StringType),
        col(winsACol).cast(LongType), col(winsBCol).cast(LongType))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pairs = rows.map { case (ia, ib, wa, wb) => ((ia, ib), wa + wb) }
      .filter(_._2 > 0L)
    // the n·2⁴⁰ < 2⁶³ precondition, ENFORCED on the TOTAL decided count
    // (bounds every t_ij AND the d_i sums: d_i ≤ ΣN·2⁴⁰ even at s = 1).
    // Fail loud rather than silently rescale by a data-dependent GCD —
    // a hidden rescale would desynchronize the oracle's unrolled CTEs;
    // the caller divides counts by a common factor instead (the BT
    // fixpoint is invariant to count rescaling).
    val totalN = pairs.map(_._2).sum
    require(totalN <= (1L << 22),
      s"bradleyTerryStrengths: $totalN total decided comparisons; the " +
        "2^20/2^40 fixed point is exact only below 2^22 - divide all win" +
        " counts by a common factor first (the BT fixpoint is invariant" +
        " to count rescaling)")
    val winTot = (rows.map { case (ia, _, wa, _) => ia -> wa } ++
      rows.map { case (_, ib, _, wb) => ib -> wb })
      .groupBy(_._1).map { case (i, ws) => i -> ws.map(_._2).sum }
    val items = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    val compTot = (pairs.map { case ((ia, _), n) => ia -> n } ++
      pairs.map { case ((_, ib), n) => ib -> n })
      .groupBy(_._1).map { case (i, ns) => i -> ns.map(_._2).sum }

    var r: Map[String, Long] = items.map(_ -> StrengthScale).toMap
    for (_ <- 1 to iters) {
      val d = scala.collection.mutable.Map(items.map(_ -> 0L): _*)
      pairs.foreach { case ((ia, ib), n) =>
        val s = r(ia) + r(ib)
        val t = if (s > 0L) n * DivScale / s else 0L
        d(ia) += t
        d(ib) += t
      }
      r = items.map { i =>
        val di = d(i)
        i -> (if (di > 0L) winTot.getOrElse(i, 0L) * DivScale / di else r(i))
      }.toMap
    }

    val out = items.map { i =>
      val fp = r(i)
      Row(i, winTot.getOrElse(i, 0L), compTot.getOrElse(i, 0L), fp,
        fp.toDouble / StrengthScale)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("wins", LongType, nullable = false),
        StructField("comparisons", LongType, nullable = false),
        StructField("strength_fp", LongType, nullable = false),
        StructField("strength", DoubleType, nullable = false))))
  }

  /** GROUP-NORMALIZED advantages (the GRPO reward shaping, Shao et al.
    * 2024 "DeepSeekMath" §4.1): per group (one prompt's N sampled
    * completions), each reward is centered by the group mean and
    * scaled by the group POPULATION standard deviation — the
    * critic-free advantage estimate group-relative RL optimizes.
    *
    * Exactness: with caller-quantized integer rewards, the advantage
    * collapses to one rational over one square root —
    * (x − μ)/σ = (n·x − Σx)/√(n·Σx² − (Σx)²) — so the numerator and
    * the radicand D are exact BIGINTs (ANSI overflow is the loud
    * precondition: n·Σx² must fit a Long — rescale rewards first
    * beyond |x| ≈ 2²⁰ at n ≈ 2²⁰). Both are ≤2⁵³-exact as doubles at
    * that bound, √ is correctly rounded, the division is correctly
    * rounded, and the 2²⁰ scale is a power of two (EXACT exponent
    * shift) — so `adv_q20 = ⌊(num/√D)·2²⁰⌋` is bit-identical
    * cross-engine, the BLEU-GM sqrt discipline.
    *
    * Degenerates: a constant group (D = 0, includes singletons) has
    * NULL advantage — GRPO's ε-fudge hides a division by zero behind a
    * float; a data system should surface "this prompt's samples all
    * scored the same" instead (filter or impute downstream).
    *
    * Scale shape: one map-side-combinable hash-aggregate to per-group
    * moments, one equi-join back on the group key — no window over the
    * reward stream, no per-group fan-in beyond the moment row.
    *
    * @param reward integer-valued expression (quantize floats first,
    *               e.g. `floor(value·100)`)
    * @return input spine + (reward, n_group, adv_q20, adv), one row
    *         per input row
    */
  /** BEST-OF-N expected-maximum reward curve — the inference-scaling
    * measurement behind rejection sampling / BoN deployment decisions
    * (Nakano et al. 2021 "WebGPT" App. B; the same unbiased estimator
    * family as q303's pass@k): per group (one prompt's n sampled
    * completions with integer rewards), for each N = 1..maxN the
    * UNBIASED estimate of E[max reward over N fresh samples] — drawn
    * WITHOUT replacement from the n observed:
    * `P(max ≤ v) = C(F(v), N)/C(n, N)` with F the per-group cumulative
    * reward CDF, so
    * `E = Σ_v v·(C(F,N) − C(F⁻,N))/C(n,N)` — read the marginal value
    * of more samples directly off where the curve flattens.
    *
    * Exactness: binomials reduce to FALLING FACTORIALS — the N!
    * cancels between numerator and denominator — so
    * `E = Σ_v v·(ff(F,N) − ff(F⁻,N)) / ff(n,N)`, every term an exact
    * DECIMAL(38,0) product (the q303 discipline; ff(c,N) self-zeroes
    * when c < N because the factor c−c appears). Rewards are shifted
    * per group by their min before weighting so the closing 2^20
    * integral division is over NONNEGATIVE integers (truncation =
    * floor on both engines), then shifted back exactly:
    * `e_max_q20 = ⌊Σ'·2^20 / ff(n,N)⌋ + min·2^20`. Contract:
    * (maxReward−min)·n^maxN·2^20 < 10^38 — ANSI decimal overflow is
    * the loud failure past it.
    *
    * Scale shape: one hash-aggregate to the per-(group, reward)
    * histogram, one per-group cumulative window OVER DISTINCT REWARD
    * VALUES (bounded by quantization, not by group size), one further
    * group aggregate computing every N's numerator in a single pass,
    * one maxN-way stack to long format. N > n yields NULL (the q303
    * n < k rule).
    *
    * @param reward integer-valued expression (quantize floats first)
    * @return one row per (group, N): (groupCol, n_samples, n_draws,
    *         e_max_q20, e_max)
    */
  def bestOfNCurve(df: DataFrame, groupCol: String, reward: Column,
                   maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "need 1 <= maxN <= 8")
    val Q = 1048576L
    val dec = DecimalType(38, 0)
    def ff(c: Column, n: Int): Column =
      (0 until n).map(j => (c - lit(j.toLong)).cast(dec)).reduce(_ * _)
    val base = df.select(col(groupCol).as("__g"),
      reward.cast(LongType).as("__r"))
    val hist = base.groupBy("__g", "__r").agg(count(lit(1)).as("__c"))
    val gstats = base.groupBy("__g")
      .agg(count(lit(1)).as("n_samples"), min("__r").as("__mn"))
    val w = Window.partitionBy("__g").orderBy("__r")
    val cum = hist.withColumn("__F", sum("__c").over(w))
      .withColumn("__Fp", col("__F") - col("__c"))
      .join(gstats, Seq("__g"))
    val numCols = (1 to maxN).map(n =>
      sum((col("__r") - col("__mn")).cast(dec) *
        (ff(col("__F"), n) - ff(col("__Fp"), n))).as(s"__num$n"))
    val nums = cum.groupBy("__g", "n_samples", "__mn")
      .agg(numCols.head, numCols.tail: _*)
    val withE = (1 to maxN).foldLeft(nums) { (d, n) =>
      d.withColumn(s"__e$n",
        when(col("n_samples") >= n.toLong,
          graft.functions.posIntDiv(
            col(s"__num$n") * lit(Q).cast(dec),
            ff(col("n_samples"), n)) + col("__mn") * Q))
    }
    val stackExpr = s"stack($maxN, " +
      (1 to maxN).map(n => s"${n}L, __e$n").mkString(", ") +
      ") as (n_draws, e_max_q20)"
    withE.select(Seq(col("__g").as(groupCol), col("n_samples")) :+
        expr(stackExpr): _*)
      .select(col(groupCol), col("n_samples"), col("n_draws"),
        col("e_max_q20"))
      .withColumn("e_max", col("e_max_q20").cast("double") / Q)
  }

  /** DPO PAIR CONSTRUCTION (Rafailov et al. 2023 "Direct Preference
    * Optimization"): from each prompt group's scored samples, emit the
    * (chosen, rejected) training pair — best vs worst reward — the
    * dataset-building step between reward scoring and a DPO fine-tune.
    *
    * Determinism: chosen = (reward DESC, id ASC), rejected =
    * (reward ASC, id ASC) — both row_number picks are total orders, so
    * the emitted pair is a pure function of the input set. Groups
    * whose margin (chosen − rejected reward, exact integer) is below
    * `minMargin` are DROPPED — near-tie pairs teach a DPO objective
    * nothing and flip sign under reward noise; with minMargin ≥ 1
    * constant groups (margin 0, chosen = rejected row) can never leak
    * a self-pair.
    *
    * Scale shape: one group-keyed shuffle, two sorts over it (the two
    * orderings share the partitioning), one self-join of two
    * single-row-per-group streams on the group key. No corpus-sized
    * join.
    *
    * @param reward integer-valued expression (quantize floats first)
    * @return one row per surviving group: (groupCol, n_samples,
    *         chosen_id, rejected_id, chosen_reward, rejected_reward,
    *         margin)
    */
  def dpoPairs(df: DataFrame, groupCol: String, idCol: String,
               reward: Column, minMargin: Long = 1L): DataFrame = {
    require(minMargin >= 0L, "minMargin must be nonnegative")
    val rows = df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
      reward.cast(LongType).as("__r"))
    val wTop = Window.partitionBy("__g")
      .orderBy(col("__r").desc, col("__id").asc)
    val wBot = Window.partitionBy("__g")
      .orderBy(col("__r").asc, col("__id").asc)
    val ranked = rows
      .withColumn("__rnT", row_number().over(wTop))
      .withColumn("__rnB", row_number().over(wBot))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__g")))
    val chosen = ranked.filter(col("__rnT") === 1)
      .select(col("__g"), col("__n").as("n_samples"),
        col("__id").as("chosen_id"), col("__r").as("chosen_reward"))
    val rejected = ranked.filter(col("__rnB") === 1)
      .select(col("__g"), col("__id").as("rejected_id"),
        col("__r").as("rejected_reward"))
    chosen.join(rejected, Seq("__g"))
      .withColumn("margin", col("chosen_reward") - col("rejected_reward"))
      .filter(col("margin") >= minMargin)
      .select(col("__g").as(groupCol), col("n_samples"),
        col("chosen_id"), col("rejected_id"), col("chosen_reward"),
        col("rejected_reward"), col("margin"))
  }

  /** Per-group reward MOMENT table — the exported artifact for
    * [[advantagesWithMoments]]'s train/apply split (the q299 dsir
    * discipline: ship the bounded table, never the corpus). One
    * map-side-combinable aggregate; exact BIGINT moments.
    */
  def groupMoments(df: DataFrame, groupCol: String, reward: Column)
      : DataFrame = {
    val r = reward.cast(LongType)
    df.select(col(groupCol), r.as("__r"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_ref"), sum(col("__r")).as("sum_ref"),
        sum(col("__r") * col("__r")).as("sumsq_ref"))
  }

  /** [[groupNormalizedAdvantages]]'s APPLY side under FROZEN reference
    * moments — the deployment shape: moments trained on a reference
    * window ([[groupMoments]]), new rewards normalized against that
    * baseline row-locally after one group-key equi-join (stream-static
    * joinable). Identical exact chain ((n·x − Σx)/√D, one correctly
    * rounded sqrt + division, exact 2²⁰ shift); groups ABSENT from the
    * moment table surface NULL n_ref and NULL advantage — "no
    * baseline" is a signal, not a zero.
    *
    * @return one row per batch row: (groupCol, idCol, reward, n_ref,
    *         adv_q20, adv)
    */
  def advantagesWithMoments(batch: DataFrame, groupCol: String,
                            idCol: String, reward: Column,
                            moments: DataFrame): DataFrame = {
    val Q = 1048576L
    val rows = batch.select(col(groupCol), col(idCol),
      reward.cast(LongType).as("reward"))
    rows.join(moments, Seq(groupCol), "left")
      .withColumn("__d",
        col("n_ref") * col("sumsq_ref") - col("sum_ref") * col("sum_ref"))
      .withColumn("adv_q20", when(col("__d") > 0L,
        floor((col("n_ref") * col("reward") - col("sum_ref"))
          .cast("double") / sqrt(col("__d").cast("double")) * Q.toDouble)))
      .withColumn("adv", col("adv_q20").cast("double") / Q)
      .select(groupCol, idCol, "reward", "n_ref", "adv_q20", "adv")
  }

  def groupNormalizedAdvantages(df: DataFrame, groupCol: String,
                                idCol: String, reward: Column)
      : DataFrame = {
    val Q = 1048576L
    val r = reward.cast(LongType)
    val rows = df.select(col(groupCol), col(idCol), r.as("reward"))
    val g = rows.groupBy(groupCol)
      .agg(count(lit(1)).as("n_group"), sum(col("reward")).as("__s"),
        sum(col("reward") * col("reward")).as("__ss"))
    rows.join(g, Seq(groupCol))
      .withColumn("__d",
        col("n_group") * col("__ss") - col("__s") * col("__s"))
      .withColumn("adv_q20", when(col("__d") > 0L,
        floor((col("n_group") * col("reward") - col("__s")).cast("double")
          / sqrt(col("__d").cast("double")) * Q.toDouble)))
      .withColumn("adv", col("adv_q20").cast("double") / Q)
      .select(groupCol, idCol, "reward", "n_group", "adv_q20", "adv")
  }
}
