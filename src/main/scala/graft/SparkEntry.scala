package graft

import graft.queries.QueryRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per operator family of SURVEY.md §2 plus the
  * LLM-data-pipeline operators (dedup / similarity / text analysis /
  * multimodal); `oracleSql` carries the DuckDB-equivalent SQL the driver
  * hash-compares each entry against on the sf0.01 tables.
  */
object SparkEntry {

  /** Flagship: the reference's monthly-climate aggregate shape (scan →
    * filter → wide multi-agg → sort, gold_processor.py:49-91) over lineitem.
    */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 0)
      .groupBy(year(col("l_shipdate")).as("y"), month(col("l_shipdate")).as("m"),
        col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum("l_quantity").as("sum_qty"),
        avg("l_extendedprice").as("avg_price"),
        max("l_extendedprice").as("max_price"),
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("discounted_cnt"))
      .orderBy("y", "m", "l_returnflag")

  /** One entry per implemented operator family from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.map(q => q.name -> q.oracle).toMap
}
