package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution has heavy hitters.
  *
  * AQE's skew-join splitting (on by default) handles most sort-merge skew
  * at runtime; explicit salting remains the tool when (a) the skewed side
  * feeds a broadcast-ineligible join AND the hot keys are known/computable,
  * or (b) an aggregation hot-keys a single reducer. Salting trades one
  * extra column + a small-side replication factor for even task sizes:
  * the big side scatters each row to (key, salt ∈ [0,S)), the small side
  * replicates each row S times, and the join key becomes (key, salt) — a
  * hot key's rows now spread across S reducers instead of one.
  */
object Skew {

  /** Inner/left equi-join with the LEFT side salted and the RIGHT side
    * replicated `saltFactor` times. Semantics identical to
    * `left.join(right, keys, joinType)` for 1:N joins (each left row still
    * meets each matching right row exactly once).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    // The JOIN RESULT is invariant to the salt values: whatever salt a
    // left row carries in [0,S), it meets exactly the one replica of each
    // matching right row with that salt — so the salt needs an even
    // spread, not determinism or row content. Round-robin off the row id
    // gives a perfect spread AND keeps the scan narrow: the previous
    // whole-row hash (xxhash64 of struct(all columns)) forced the scan to
    // read EVERY column just to compute the salt — column pruning gone,
    // which at 100 TB costs more than the skew it fixes.
    val salted = left.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
    val replicated = right
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-phase skew-safe aggregation: partial-aggregate on (keys, salt),
    * then final-aggregate on keys. Use for aggregates that are
    * associative+commutative (sum/count/min/max) when one group dominates.
    * (Spark's hash aggregate already does map-side partials; the explicit
    * salt matters when the FINAL reduce of one group exceeds a single
    * task — e.g. collect-heavy or high-cardinality-payload aggs.)
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                saltFactor: Int): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    // Same reasoning as saltedJoin: a sum is salt-invariant, so the salt
    // is round-robin — not a whole-row hash that would defeat pruning.
    val salted = df.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))
  }

  /** Skew ADVISOR — the one-row report read before choosing between a
    * plain join, AQE skew splitting, and [[saltedJoin]]: key-histogram
    * extremes plus the salt factor that would level the hottest key
    * across `partitions` reducers,
    *
    *   salt_factor = ⌈max_cnt · partitions / n_rows⌉   (exact integer
    *   ceiling — the hot key's rows divided by a fair task share)
    *
    * reported alongside skew_ratio = max_cnt/(n_rows/n_keys) (hot key vs
    * mean key). salt_factor ≤ 1 means the hottest key already fits a
    * fair share — salting would only add replication cost.
    *
    * Scale shape: one key histogram (map-side combinable, bounded by
    * distinct keys), then one-row aggregates over it; the max key is
    * re-read from the histogram by filter (min key string among
    * count-ties — deterministic), never via a driver sort. Keys are
    * rendered as strings so the report schema is key-type-independent.
    */
  def skewReport(df: DataFrame, keyCol: String, partitions: Int): DataFrame = {
    require(partitions > 0, "partitions must be positive")
    val hist = CacheScope.track(
      df.groupBy(col(keyCol).cast("string").as("__k"))
        .agg(count(lit(1)).as("__cnt")))
    val tot = hist.agg(sum("__cnt").as("n_rows"),
      count(lit(1)).as("n_keys"), max("__cnt").as("max_cnt"))
    val hot = hist.join(tot.select(col("max_cnt").as("__m")),
        col("__cnt") === col("__m"))
      .agg(min("__k").as("max_key"))
    tot.crossJoin(hot).select(
      col("n_rows"), col("n_keys"), col("max_cnt"), col("max_key"),
      (col("n_rows").cast("double") / col("n_keys").cast("double"))
        .as("mean_rows_per_key"),
      ((col("max_cnt") * col("n_keys")).cast("double") /
        col("n_rows").cast("double")).as("skew_ratio"),
      expr(s"CAST((max_cnt * $partitions + n_rows - 1) DIV n_rows AS BIGINT)")
        .as("salt_factor"))
  }
}
