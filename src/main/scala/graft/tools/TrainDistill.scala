package graft.tools

import graft.operators.{LinearModel, TextAnalysis}
import org.apache.spark.sql.functions._

/** One-off deterministic training run for the q102 distilled gate
  * classifier — prints the learned raw-space weights that q102 embeds
  * as literals (provenance documented there). The weights were trained
  * at eight cores:
  *   SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.tools.TrainDistill"
  */
object TrainDistill {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val labeled = TextAnalysis.qualityGate(docs, "doc_id", "text",
      keepInputCols = true)
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("double").as("f_tokens"),
        TextAnalysis.punctCount(col("text")).cast("double").as("f_punct"),
        coalesce(TextAnalysis.stopwordRatio(col("text")), lit(0.0)).as("f_stop"),
        TextAnalysis.qualityScore(col("text")).as("f_quality"),
        col("keep").cast("int").as("y"))
    val cols = Seq("f_tokens", "f_punct", "f_stop", "f_quality")
    val m = LinearModel.train(labeled, cols, "y",
      iterations = 300, learningRate = 1.0)
    val scored = LinearModel.applyModel(labeled, cols, m)
    val agree = scored.select(
      avg(when(col("predicted") === col("y"), 1.0).otherwise(0.0))).head().getDouble(0)
    println(s"[train] weights=${m.weights.mkString(", ")} bias=${m.bias} agreement=$agree")
    spark.stop()
  }
}
