package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid-retrieval rank fusion: combine the per-query rankings of
  * independent retrieval arms (dense ANN, lexical overlap, BM25, …) into
  * one fused ranking with Reciprocal Rank Fusion (Cormack, Clarke &
  * Buettcher, SIGIR 2009): `score(d) = Σ_arms 1/(c + rank_arm(d))`,
  * items absent from an arm contributing nothing.
  *
  * RRF is the standard fusion for hybrid search because it needs no
  * score calibration across arms — only ranks — which also makes it
  * oracle-friendly: ranks are integers, and the fused score is a FIXED
  * left-to-right sum of exactly-rounded divisions (one `1.0/(c+rank)`
  * term per arm, in declaration order), so every double is reproducible
  * bit-for-bit across engines. No float aggregation happens: arms are
  * aligned by full-outer equi-join on (qid, id), not by groupBy-sum, so
  * Spark's partial-merge order can never leak into the result.
  *
  * Scale shape: each arm is already k-bounded per query (its own top-k
  * contract), so the join input is ≤ Σ k_arm rows per query — the fusion
  * itself shuffles only rank lists, never corpora. The per-query rank
  * window after the join sees ≤ Σ k_arm rows, bounded state at any
  * corpus size.
  */
object Fusion {

  /** Fuse named arms `(name, ranking)` — each ranking a DataFrame with
    * columns (qid, nid, rank); rank is 1-based within qid. Returns the
    * fused top-`topK` per query: (qid, rank, nid, score, r_<name>...),
    * fused rank by (score DESC, nid ASC), per-arm ranks NULL where the
    * arm did not retrieve the item.
    *
    * @param c RRF damping constant (60 in the original paper — small
    *          enough to reward top ranks, large enough that one arm's
    *          tail cannot dominate another's head).
    */
  def rrf(arms: Seq[(String, DataFrame)], c: Int = 60, topK: Int = 10): DataFrame = {
    require(arms.nonEmpty && c > 0 && topK > 0)
    require(arms.map(_._1).distinct.length == arms.length, "duplicate arm names")
    val renamed = arms.map { case (name, df) =>
      df.select(col("qid"), col("nid"), col("rank").cast("long").as(s"r_$name"))
    }
    // full-outer chain on (qid, nid): an item retrieved by ANY arm is a
    // fusion candidate; USING-style join keeps single qid/nid columns.
    val joined = renamed.reduceLeft { (a, b) =>
      a.join(b, Seq("qid", "nid"), "full_outer")
    }
    // fixed declaration-order fold: one exactly-rounded division per
    // arm, missing rank -> +0.0; bit-deterministic (no agg, no reorder).
    val score = arms.map(_._1).foldLeft(lit(0.0)) { (acc, name) =>
      acc + when(col(s"r_$name").isNotNull,
        lit(1.0) / (lit(c.toDouble) + col(s"r_$name"))).otherwise(lit(0.0))
    }
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("nid"))
    val armCols = arms.map { case (name, _) => col(s"r_$name") }
    joined.withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(Seq(col("qid"), col("rank"), col("nid"), col("score")) ++ armCols: _*)
  }

  /** The lexical retrieval arm: per-query top-k corpus documents by
    * DISTINCT-token overlap |T_q ∩ T_d| (set semantics — repetition
    * inside either document does not inflate the match), ranked by
    * (overlap DESC, nid ASC), self-matches excluded.
    *
    * Scale shape: an inverted-index equi-join on the token — candidates
    * are generated per shared token and aggregated by (qid, nid), never
    * an all-pairs product. With a broadcast-small query set the join is
    * map-side; the per-query rank window sees only documents sharing at
    * least one token with the query. At web scale, stopword fan-out is
    * bounded the same way the posting-list builder bounds it: drop
    * head-of-df tokens first (a WHERE on a token-df join) — deliberately
    * not defaulted here so the overlap stays the exact set intersection
    * the oracle recomputes.
    *
    * @return (qid, nid, overlap, rank), rank ≤ k.
    */
  def tokenOverlapTopK(queries: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0)
    def toks(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
          explode(graft.functions.tokens(col(textCol))).as("__t"))
        .distinct()
    val q = toks(queries, "qid")
    val d = toks(corpus, "nid")
    val overlap = d.join(broadcast(q), Seq("__t"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(count(lit(1)).as("overlap"))
    val w = Window.partitionBy("qid").orderBy(desc("overlap"), col("nid"))
    overlap.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("overlap"), col("rank"))
  }

  /** The rerank stage of retrieve-then-rerank: score an already-bounded
    * candidate list (qid, nid) with the EXACT cosine and keep the top-k
    * per query — fused/approximate arms propose, the precise scorer
    * disposes. Candidates are ≤ Σ k_arm per query by construction, so
    * they ride as the BROADCAST side of both id joins against the vector
    * table (the corpus streams, nothing shuffles by candidate), and the
    * per-query rank window sees only the candidate handful. Cosine is
    * the library-standard left fold (same bits as every other cosine
    * here), NULL on zero norms — those candidates drop before ranking.
    *
    * @return (qid, rank, nid, cos), rank by (cos DESC, nid ASC), ≤ k
    */
  def exactRerank(candidates: DataFrame, vectors: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k > 0)
    val v = vectors.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      graft.functions.l2NormF(col(vecCol)).as("__n"))
    val cand = candidates.select("qid", "nid")
    val scored = v.select(col("__id").as("qid"), col("__v").as("__qv"), col("__n").as("__qn"))
      .join(broadcast(cand), Seq("qid"))
      .join(v.select(col("__id").as("nid"), col("__v").as("__cv"), col("__n").as("__cn")),
        Seq("nid"))
      .withColumn("cos",
        when(col("__qn") * col("__cn") =!= 0.0,
          graft.functions.dotProductF(col("__qv"), col("__cv")) /
            (col("__qn") * col("__cn"))))
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy("qid").orderBy(desc("cos"), col("nid"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Truncated-weight RBO coefficients for [[rankBiasedOverlap]]:
    * W_d = ⌊(1−p)·p^(d−1)·2³⁰⌋, built by a fixed left-to-right multiply
    * chain so the literals are bit-identical wherever they are
    * recomputed (engine and oracle share this method — the nDCG
    * plan-literal discipline).
    */
  private[graft] def rboWeights(k: Int, p: Double): Seq[(Int, Long)] = {
    var w = 1.0 - p
    (1 to k).map { d =>
      val r = (d, math.floor(w * (1L << 30).toDouble).toLong)
      w = w * p
      r
    }
  }

  /** RANK-BIASED OVERLAP (Webber et al. 2010, truncated at depth k) of
    * two top-k rankings: Σ_{d≤k} (1−p)·p^{d−1}·(X_d/d), X_d = overlap of
    * the two depth-d prefixes. THE similarity measure for comparing two
    * RANKERS (BM25 vs TF-IDF, old model vs new) — top-weighted where
    * Kendall/Spearman treat every position alike, and defined for
    * non-conjoint lists.
    *
    * Exactness: the p-powers are the driver-literal [[rboWeights]];
    * each depth's term is the exact integer (W_d·X_d) DIV d, so the sum
    * is order-free BIGINT and the one division at the end produces the
    * reported coefficient (truncation bias ≤ k·2⁻³⁰). X_d comes from
    * one rank-pair join: a doc in both lists enters every depth ≥
    * max(rank_a, rank_b) — a broadcast depth-explode, never a prefix
    * self-join.
    *
    * @param a,b rankings carrying `idCol` and `rankCol` (1-based, ≤ k)
    * @return one row: (k, overlap_at_k, rbo_fp, rbo)
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
                        rankCol: String, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1 && p > 0.0 && p < 1.0, "need k >= 1 and p in (0,1)")
    val spark = a.sparkSession
    import spark.implicits._
    val wdf = rboWeights(k, p).toDF("d", "w_fp")
    val joined = a.select(col(idCol).as("__id"), col(rankCol).as("__ra"))
      .join(b.select(col(idCol).as("__id"), col(rankCol).as("__rb")),
        Seq("__id"))
      .withColumn("__m", greatest(col("__ra"), col("__rb")))
    val xd = broadcast(wdf).join(joined, col("__m") <= col("d"))
      .groupBy("d", "w_fp").agg(count(lit(1)).as("x_d"))
    xd
      .withColumn("__term", expr("(w_fp * x_d) DIV d"))
      .agg(sum(col("__term")).as("rbo_fp"),
        max(when(col("d") === k, col("x_d"))).as("overlap_at_k"))
      .select(lit(k.toLong).as("k"),
        coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
        coalesce(col("rbo_fp"), lit(0L)).as("rbo_fp"))
      .withColumn("rbo", col("rbo_fp").cast("double") / lit(1073741824.0))
  }
}
