package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouping-sets aggregation (ROLLUP / CUBE) the scale-safe way.
  *
  * Spark's built-in `df.rollup(dims)` plans an `Expand` that replicates
  * EVERY input row once per grouping set before the aggregate — a
  * d-dimension rollup pushes (d+1)× the raw scan into the hash-aggregate,
  * and a cube 2^d×. At 100 TB that multiplier lands on the most expensive
  * stage of the whole job. But the aggregates a profiling rollup wants
  * (count / sum / min / max, avg derived) are DECOMPOSABLE: the coarser
  * levels are exactly re-aggregations of the finest level. So: aggregate
  * the raw data ONCE at the finest grain — map-side combinable, output
  * bounded by the finest-grain cardinality, not the row count — then run
  * the cascade on aggregate rows. The raw scan is touched once; every
  * further level is arithmetic on a table of at most |dim1×…×dimd| rows.
  *
  * Output matches the built-in semantics: one row per group per level,
  * aggregated-away dims NULL, and a `gid` column with Spark's
  * `grouping_id()` bit pattern (leftmost dim = highest bit; bit set = dim
  * aggregated away) to disambiguate a rollup NULL from a data NULL.
  */
object GroupingSets {

  private val aggCols = Seq("n", "sum_v", "min_v", "max_v")

  /** Finest-grain aggregate: one pass over the raw data. */
  private def finest(df: DataFrame, dims: Seq[String], valueCol: String): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))

  /** Re-aggregate a finer level down to `keep` dims; dropped dims become
    * typed NULLs so the levels union cleanly. Decomposability: count
    * re-aggregates as SUM of counts; sum as sum, min as min, max as max.
    */
  private def reagg(finer: DataFrame, dims: Seq[String], keep: Set[String]): DataFrame = {
    val kept = dims.filter(keep)
    val grouped =
      if (kept.isEmpty) finer.groupBy()
      else finer.groupBy(kept.map(col): _*)
    val agg = grouped.agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
    val cols = dims.map { d =>
      if (keep(d)) col(d)
      else lit(null).cast(finer.schema(d).dataType).as(d)
    } ++ aggCols.map(col)
    agg.select(cols: _*)
  }

  private def gid(dims: Seq[String], keep: Set[String]): Long =
    dims.foldLeft(0L)((acc, d) => (acc << 1) | (if (keep(d)) 0L else 1L))

  private def assemble(df: DataFrame, dims: Seq[String], valueCol: String,
                       sets: Seq[Set[String]]): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    val l0 = CacheScope.track(finest(df, dims, valueCol))
    val levels = sets.map { keep =>
      val lvl =
        if (keep == dims.toSet) l0.select((dims.map(col) ++ aggCols.map(col)): _*)
        else reagg(l0, dims, keep)
      lvl.withColumn("gid", lit(gid(dims, keep)))
    }
    levels.reduce(_.unionByName(_))
  }

  /** ROLLUP(dims): the d+1 prefix levels — (d1..dd), (d1..dd-1), …, ().
    *
    * @return (dims…, n, sum_v, min_v, max_v, gid)
    */
  def rollup(df: DataFrame, dims: Seq[String], valueCol: String): DataFrame =
    assemble(df, dims, valueCol,
      (dims.length to 0 by -1).map(i => dims.take(i).toSet))

  /** ROLLUP carrying a DISTINCT-count estimate through the cascade — the
    * answer to the scaladoc caveat above: exact distinct counts are not
    * decomposable (distinct(A ∪ B) ≠ f(distinct A, distinct B)), but the
    * KMV bottom-k sketch IS exactly mergeable —
    * bottomk(A ∪ B) = bottomk(bottomk(A) ⧺ bottomk(B)) — so the cascade
    * stays one raw-data pass: the finest level aggregates the bounded
    * sketch ([[Sketch.bottomKHashes]], k longs per group), and every
    * coarser level EXPLODES the child sketches and re-runs the same
    * bounded aggregate — k-long state per group with map-side partials,
    * so even the grand-total merge never buffers more than k values per
    * task (a collect_list-of-child-sketches merge would funnel
    * |finest groups| × k longs into the () level's single buffer — the
    * exact unbounded-state shape this operator family exists to avoid).
    * The merge is EXACT (not just approximately composable): cascaded
    * sketches are bit-identical to sketches computed from raw data per
    * level, which is what lets the oracle derive every level directly.
    *
    * @return (dims…, gid, sk_size, h_k, est) — per q46's estimator,
    *         est is exact below k distinct and (k−1)·M/h_k beyond.
    */
  def rollupDistinctKmv(df: DataFrame, dims: Seq[String], hashCol: String,
                        k: Int, hashMod: Long): DataFrame = {
    require(dims.nonEmpty, "need at least one dimension")
    val l0 = CacheScope.track(
      df.groupBy(dims.map(col): _*)
        .agg(Sketch.bottomKHashes(col(hashCol), k).as("sk")))
    val sets = (dims.length to 0 by -1).map(i => dims.take(i).toSet)
    val levels = sets.map { keep =>
      val lvl =
        if (keep == dims.toSet)
          l0.select((dims.map(col) :+ col("sk")): _*)
        else {
          val kept = dims.filter(keep)
          // explode_OUTER, not explode: a group whose sketch is empty
          // (all-NULL hashCol) must still reach the coarser levels — plain
          // explode drops its rows entirely, so the finest level would
          // emit it with sk_size=0 while every coarser level lost it. The
          // null __h the outer variant emits for empty sketches is ignored
          // by BottomKLongs.update (null-skipping aggregate), so the merge
          // still produces the correct (empty) sketch for such groups.
          val exploded = l0.select((kept.map(col) :+
            explode_outer(col("sk")).as("__h")): _*)
          val grouped =
            if (kept.isEmpty) exploded.groupBy()
            else exploded.groupBy(kept.map(col): _*)
          val merged = grouped.agg(
            Sketch.bottomKHashes(col("__h"), k).as("sk"))
          merged.select((dims.map { d =>
            if (keep(d)) col(d)
            else lit(null).cast(l0.schema(d).dataType).as(d)
          } :+ col("sk")): _*)
        }
      lvl.withColumn("gid", lit(gid(dims, keep)))
    }
    levels.reduce(_.unionByName(_))
      .select((dims.map(col) :+ col("gid") :+
        size(col("sk")).cast("long").as("sk_size") :+
        when(size(col("sk")) >= k, element_at(col("sk"), k)).as("h_k") :+
        Sketch.kmvDistinctEstimate(col("sk"), k, hashMod).as("est")): _*)
  }

  /** CUBE(dims): all 2^d subsets. Every subset re-aggregates the one
    * finest-grain table (cheapest possible parent would save a little on
    * deep lattices; at profiling dimensionality — d ≤ 4 or so — every
    * parent is already tiny and the single cached L0 keeps lineage flat).
    */
  def cube(df: DataFrame, dims: Seq[String], valueCol: String): DataFrame = {
    val subsets = dims.toSet.subsets().toSeq
    assemble(df, dims, valueCol, subsets)
  }

  /** GROUPING SETS(sets): exactly the listed subsets of `dims` — the
    * general form ROLLUP and CUBE are sugar for, for reports that want,
    * say, (lang, source), (lang), (source) but NOT the grand total.
    * Same one-raw-pass cascade: whether the finest grain itself is
    * requested or not, it is computed once (bounded by dim-combination
    * cardinality) and every requested set re-aggregates it — the raw
    * 100 TB scan still happens exactly once, vs the built-in's Expand
    * replicating every row |sets| times. Duplicate sets are rejected
    * (they would silently double rows in the union), and every set must
    * draw from `dims` so gid bits and NULL typing stay well-defined.
    */
  def groupingSets(df: DataFrame, dims: Seq[String], valueCol: String,
                   sets: Seq[Seq[String]]): DataFrame = {
    require(sets.nonEmpty, "need at least one grouping set")
    val asSets = sets.map(_.toSet)
    require(asSets.distinct.length == asSets.length,
      "duplicate grouping sets would duplicate their rows in the union")
    asSets.foreach { s =>
      require(s.subsetOf(dims.toSet), s"set $s not drawn from dims $dims")
    }
    assemble(df, dims, valueCol, asSets)
  }
}
