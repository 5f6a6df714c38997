package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-DIMENSION embedding distribution statistics — the embedding-QA /
  * whitening-prep pass: dead dimensions (≈0 variance), scale drift
  * between dimensions, and the (mean, std) pairs a standardization or
  * PCA step consumes. One row out per dimension.
  *
  * Determinism discipline: a float groupBy-sum's partial-merge order
  * varies with partitioning, so sums here are POWER-OF-TWO fixed point:
  * `floor(v · 2²⁰)` and `floor(v² · 2²⁰)` are EXACT integer images of
  * each element (a float times 2²⁰ is exact in double arithmetic — the
  * mantissa is untouched; floor then truncates sub-2⁻²⁰ mass), summed
  * as BIGINTs — order-free — with doubles reappearing only in the
  * final mirrored closed form. Resolution is a stated 2⁻²⁰ per term,
  * not a hidden summation-order hazard.
  *
  * Overflow contract (documented like [[Regression]]): |v| ≤ B keeps a
  * dimension's |Σ floor(v·2²⁰)| under ~n·B·2²⁰ — with unit-norm-ish
  * embeddings (B ≤ 1) that is 2⁶³ at ~8·10¹² rows; larger magnitudes
  * scale the bound down linearly (B² for the square sums).
  *
  * Scale shape: posexplode fans each row into `dim` (pos, val) pairs —
  * the same volume any per-dimension pass must touch — and ONE hash
  * aggregate by position combines map-side to `dim` rows of three
  * BIGINTs per task. No window, no collect, shuffle = `dim` rows.
  */
object EmbeddingStats {

  private val Scale = 1048576L // 2^20

  /** @param df     corpus with an Array[Float] column
    * @param vecCol embedding column name
    * @return (dim, n, sum_fixed, sumsq_fixed, mean, variance, std) —
    *         mean/variance from the exact fixed-point sums (population
    *         variance, ≥ 0 clamped against rounding), one double
    *         division each
    */
  def dimensionStats(df: DataFrame, vecCol: String): DataFrame = {
    val v = col("__v").cast("double")
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim").cast("long").as("dim"),
        floor(v * Scale).cast("long").as("__f"),
        floor(v * v * Scale).cast("long").as("__f2"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("__f")).as("sum_fixed"),
        sum(col("__f2")).as("sumsq_fixed"))
      .select(col("dim"), col("n"), col("sum_fixed"), col("sumsq_fixed"),
        (col("sum_fixed").cast("double") /
          (col("n") * Scale).cast("double")).as("mean"),
        greatest(lit(0.0),
          (col("n").cast("double") * col("sumsq_fixed").cast("double") -
            col("sum_fixed").cast("double") * col("sum_fixed").cast("double") / Scale) /
            (col("n").cast("double") * col("n").cast("double") * Scale))
          .as("variance"))
      .withColumn("std", sqrt(col("variance")))
      .orderBy("dim")
  }

  /** Per-label CLASS-SEPARATION matrix: cosine between label CENTROIDS
    * — "are the classes actually separated in embedding space, or is
    * the label column fighting the representation?" High inter-centroid
    * cosine between two labels predicts confusion for any
    * nearest-centroid consumer ([[graft.operators.Similarity]] k-means,
    * IVF) and flags label noise before training does.
    *
    * Exactness: per-(label, dim) means come from the [[dimensionStats]]
    * fixed-point sums; each dim's centroid product and squared mean is
    * quantized to ⌊·2³⁰⌋ before the cross-dim BIGINT totals, so
    * cos = dot_fp / sqrt(nsq_a·nsq_b) is one division + one sqrt on
    * exact integers (the scale factor cancels). The pair join runs on
    * |labels|·dims rows — centroid-sized, never corpus-sized.
    *
    * @return one row per unordered label pair: (label_a, label_b,
    *         dot_fp, nsq_a, nsq_b, cos); zero-centroid labels give NULL
    */
  def classSeparation(df: DataFrame, vecCol: String,
                      labelCol: String): DataFrame = {
    val per = df
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("__lab"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("__lab"), col("dim"),
        floor(col("__v").cast("double") * Scale).cast("long").as("__f"))
      .groupBy("__lab", "dim")
      .agg(count(lit(1)).as("__n"), sum(col("__f")).as("__s"))
      .withColumn("__m",
        col("__s").cast("double") / (col("__n") * Scale).cast("double"))
    val norms = per
      .withColumn("__m2",
        floor(col("__m") * col("__m") * lit(1073741824.0)).cast("long"))
      .groupBy(col("__lab")).agg(sum(col("__m2")).as("__nsq"))
    val a = per.select(col("__lab").as("label_a"), col("dim"),
      col("__m").as("__ma"))
    val b = per.select(col("__lab").as("label_b"), col("dim"),
      col("__m").as("__mb"))
    a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
      .withColumn("__t",
        floor(col("__ma") * col("__mb") * lit(1073741824.0)).cast("long"))
      .groupBy("label_a", "label_b").agg(sum(col("__t")).as("dot_fp"))
      .join(norms.select(col("__lab").as("label_a"),
        col("__nsq").as("nsq_a")), "label_a")
      .join(norms.select(col("__lab").as("label_b"),
        col("__nsq").as("nsq_b")), "label_b")
      .withColumn("cos",
        when(col("nsq_a") > 0L && col("nsq_b") > 0L,
          col("dot_fp").cast("double") /
            sqrt(col("nsq_a").cast("double") * col("nsq_b").cast("double"))))
  }

  /** Embedding-space ANISOTROPY: ‖mean vector‖² / E[‖v‖²] — the
    * representation-health number behind the "embeddings collapse into a
    * narrow cone" literature (Ethayarajh 2019): 0 = perfectly centered
    * cloud, →1 = every vector points the same way, at which point cosine
    * similarity stops discriminating and every ANN/dedup tier built on
    * it degrades. Cheap to monitor per corpus snapshot next to
    * [[dimensionStats]]'s per-dim drift.
    *
    * Exactness discipline: reuses [[dimensionStats]]' fixed-point per-dim
    * sums; each dimension's mean² is quantized to ⌊mean²·2³⁰⌋ before the
    * cross-dim BIGINT total (a 64-double sum would hash-differ by
    * addition order), and E[‖v‖²] is one division on the exact Σ⌊x²·2²⁰⌋
    * total. One row: (dims, n, mean_norm_sq, avg_norm_sq, anisotropy);
    * NULL anisotropy for an all-zero corpus.
    */
  def anisotropy(df: DataFrame, vecCol: String): DataFrame =
    dimensionStats(df, vecCol)
      .withColumn("__m2fp",
        floor(col("mean") * col("mean") * lit(1073741824.0)).cast("long"))
      .agg(count(lit(1)).as("dims"), max(col("n")).as("n"),
        sum(col("__m2fp")).as("__msfp"),
        sum(col("sumsq_fixed")).as("__ssf"))
      .select(col("dims"), col("n"),
        (col("__msfp").cast("double") / lit(1073741824.0)).as("mean_norm_sq"),
        (col("__ssf").cast("double") /
          (col("n") * lit(Scale)).cast("double")).as("avg_norm_sq"))
      .withColumn("anisotropy",
        when(col("avg_norm_sq") > 0.0,
          col("mean_norm_sq") / col("avg_norm_sq")))
}
