package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-example data valuation for nearest-neighbor utility — exact
  * closed-form KNN-Shapley (Jia et al., "Efficient Task-Specific Data
  * Valuation for Nearest Neighbor Algorithms", VLDB 2019).
  *
  * For a K-NN classifier, the Shapley value of every training point is
  * computable EXACTLY in one sorted pass per test point, no Monte-Carlo:
  * with training points ranked 1..N by distance to the test point and
  * ind_j = 1 iff train label j equals the test label,
  *
  *   s_N = ind_N / N
  *   s_j = s_{j+1} + (ind_j − ind_{j+1}) / max(j, K)
  *
  * i.e. s_j is a SUFFIX SUM of δ_j = (ind_j − ind_{j+1}) / max(j, K); the
  * test set's valuation of a training point is the mean of its s_j over
  * test points. This is the principled "which examples help" signal the
  * leave-one-out report ([[Profiling.leaveOneOutMeans]], q147) coarsens
  * to whole sources.
  *
  * Determinism/oracle shape: ranking reuses the q29 cosine fold (ties by
  * train id), and the reciprocals 1/max(j,K) are FIXED-POINT —
  * `recip(j) = 10⁹ div max(j,K)` as BIGINT — so the suffix sum and the
  * cross-test aggregation are integer-exact and order-free in any
  * engine; a double appears only in the final single division. The
  * published value is approximated to 1e-9 per term (|error| < N·1e-9
  * per s_j), a resolution bound stated here rather than a float-
  * summation-order hazard hidden in the plan.
  *
  * Scale shape: |pairs| = |test|·|train| — the test probe set must be
  * broadcast-small (same contract as [[Similarity.bruteForceTopK]]'s
  * query side; hundreds to thousands, the sizes the valuation
  * literature uses). The corpus TABLE is never shuffled (broadcast
  * join), but the scored PAIR stream is: the rank window hashes
  * |test|·|train| rows across |test| reducer keys (the rank and
  * suffix-sum windows share that one exchange/sort — same partitioning
  * and ordering), so wire volume is ∝ |test|·|train| and reducer
  * parallelism is capped at |test|. The final aggregate by train id is
  * map-side combinable — |train| rows of three longs on the wire.
  * Σ|δ_j|·10⁹ ≤ 2·10⁹·H_N keeps the per-test suffix sums below
  * ~10²·10⁹ even at N = 10⁸, and the final per-train sum below 2⁶³ for
  * any test set smaller than ~10⁸ points.
  *
  * @param test     broadcast-small labeled probe set (disjoint from train)
  * @param train    labeled training corpus
  * @param idCol    id column name (both inputs)
  * @param vecCol   Array[Float] embedding column name (both inputs)
  * @param labelCol label column name (both inputs; compared with `===`)
  * @param k        the K of the KNN utility (1 ≤ k ≤ |train|)
  * @return one row per train id: (id, n_tests, shap_num, shapley) where
  *         shapley = shap_num / (10⁹ · n_tests)
  */
object Valuation {

  def knnShapley(test: DataFrame, train: DataFrame, idCol: String,
                 vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val Scale = 1000000000L
    val q = test.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      graft.functions.l2NormF(col(vecCol)).as("__qn"),
      col(labelCol).as("__ql"))
    val c = train.select(col(idCol).as("nid"), col(vecCol).as("__cv"),
      graft.functions.l2NormF(col(vecCol)).as("__cn"),
      col(labelCol).as("__cl"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("nid"),
        when(col("__qn") * col("__cn") =!= 0.0,
          graft.functions.dotProductF(col("__qv"), col("__cv")) /
            (col("__qn") * col("__cn"))).as("cos"),
        when(col("__cl") === col("__ql"), 1L).otherwise(0L).as("ind"))
    val byRank = Window.partitionBy("qid").orderBy(desc("cos"), col("nid"))
    val suffix = Window.partitionBy("qid").orderBy(desc("cos"), col("nid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ranked = scored
      .withColumn("__r", row_number().over(byRank))
      // δ_j numerator ±10⁹ div max(j,K); the rank-(N) row's lead is 0 —
      // exactly the closed form's s_N = ind_N/N boundary (N ≥ K required
      // for that identity; enforced implicitly by k ≤ |train| callers).
      // `div` (not `/`): Spark's `/` is DOUBLE division — the fixed-point
      // contract needs exact integer quotients at any N.
      .withColumn("__d",
        (col("ind") - coalesce(lead(col("ind"), 1).over(byRank), lit(0L))) *
          expr(s"${Scale}L div greatest(__r, ${k}L)"))
      .withColumn("__s", sum(col("__d")).over(suffix))
    ranked.groupBy(col("nid").as(idCol))
      .agg(count(lit(1)).as("n_tests"), sum(col("__s")).as("shap_num"))
      .select(col(idCol), col("n_tests"), col("shap_num"),
        (col("shap_num").cast("double") /
          (col("n_tests") * Scale).cast("double")).as("shapley"))
  }
}
