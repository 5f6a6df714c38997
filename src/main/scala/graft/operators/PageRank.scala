package graft.operators

import graft.obs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** PageRank over a directed edge list — the graph-centrality half of
  * corpus curation. Production web-corpus pipelines weight domains by
  * link centrality (a crawl frontier orders by it; curation uses it as a
  * per-domain quality prior next to the classifier gate), and the same
  * power iteration ranks any derived graph this engine builds: the
  * near-dup cluster graph ([[Components]]), a citation/url-host graph, a
  * top-k co-occurrence graph (q105 derives one from purchase relations).
  *
  * **Fixed-point arithmetic, not doubles — that is the design.** The
  * classic double-valued power iteration sums `pr(u)/outdeg(u)` over
  * in-edges; double addition is not associative, so on a cluster the
  * result depends on partition merge order and changes run to run (AQE
  * coalescing alone reorders the fold). Here every quantity is a BIGINT
  * count of `1/scale` units (default 1e-12), every operation is integer
  * multiply / add / floor-divide, and integer addition IS associative —
  * the result is a pure function of the edge SET, bit-identical under
  * any partitioning, task order, or re-run, and therefore hash-checkable
  * against a sequential engine (the same property that makes
  * [[Components]] oracle-checkable). The floor losses are bounded (below)
  * and deterministic; they are the price of reproducibility and at
  * scale=1e12 they perturb ranks ~12 decimal digits down.
  *
  * Per iteration, with damping d = dampNum/dampDen (default 17/20 =
  * 0.85), N = |nodes|, base = ((dampDen−dampNum)·scale) div (dampDen·N):
  *
  *   contrib(v) = Σ_{(u,v)∈E} pr(u) div outdeg(u)
  *   dangling   = Σ_{outdeg(u)=0} pr(u)        (sinks donate uniformly)
  *   pr'(v)     = base + (dampNum·(contrib(v) + dangling div N)) div dampDen
  *
  * Overflow safety: Σ pr ≤ scale by induction (each iteration
  * redistributes at most the prior mass, floors only lose), so every
  * intermediate is ≤ dampNum·scale — with the default 17·1e12 ≈ 2^44,
  * far inside Long. Mass decays by < |E| + 2N units per iteration
  * (one floor per edge, per-node damping floor, dangling-share floor),
  * so after T iterations Σ pr ∈ [scale − T·(|E|+2N) − N, scale].
  *
  * 100 TB story: the loop is Pregel re-expressed in Catalyst. The edge
  * list (the big side) is deduped, degree-annotated, hash-partitioned by
  * src and checkpointed ONCE — `Dataset.localCheckpoint` preserves the
  * partitioning in its `LogicalRDD`, so each iteration's edge⋈rank join
  * exchanges only the rank side (node-cardinality rows, orders of
  * magnitude below edges). The per-iteration cost is that node-side
  * shuffle plus one map-side-combinable sum keyed by dst; rank state
  * never exceeds one row per node, and the only driver values are two
  * scalars (N, dangling mass). Lineage is truncated per round exactly as
  * in [[Components]] (lazy `localCheckpoint`; a cluster deployment points
  * `spark.checkpoint.dir` at reliable storage and calls `checkpoint`).
  * Skewed in-degree (every web graph) is absorbed by the map-side
  * combine: a node with 10^9 in-edges receives partial sums, not rows.
  *
  * Self-loops are legal edges (a self-loop feeds pr(u) div outdeg(u)
  * back to u); parallel edges collapse (edge SET semantics); NULL
  * endpoints are dropped.
  */
object PageRank {

  /** @param edges      directed edge list (duplicates/NULLs tolerated)
    * @param srcCol     source node column (integral)
    * @param dstCol     destination node column (integral)
    * @param iterations power-iteration rounds (fixed count — the
    *                   deterministic contract is "T rounds", not an
    *                   epsilon test over noisy floats)
    * @param scale      fixed-point denominator: pr is stored as
    *                   `pr_fixed` units of 1/scale
    * @param dampNum    damping-factor numerator
    * @param dampDen    damping-factor denominator
    * @return one row per node: (node LONG, pr_fixed LONG,
    *         pr DOUBLE = pr_fixed/scale — exact: pr_fixed < 2^53)
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, scale: Long = 1000000000000L,
               dampNum: Long = 17L, dampDen: Long = 20L): DataFrame =
    obs.phase("pagerank") {
    require(iterations >= 0, "iterations must be non-negative")
    require(scale > 0 && dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      "damping must be a fraction in [0,1] with positive scale")
    require(scale <= (Long.MaxValue / math.max(dampNum, 1L)),
      "dampNum*scale must stay inside Long")

    // The edge SET is materialized FIRST: odeg, the degree-annotated
    // join input, and the node table all branch off it, and without the
    // checkpoint each branch re-runs the caller's (often expensive)
    // edge-derivation plan — measured 2× the total shuffle of the
    // equivalent single-derivation plan on q105's purchase graph.
    val e0 = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(eager = true)

    // Static per-iteration join input: (src, dst, odeg), partitioned by
    // the join key and materialized once. odeg > 0 for every row here by
    // construction, so the kernel's integral divide can never see zero.
    val odeg = e0.groupBy("src").agg(count(lit(1)).as("odeg"))
    val ewd = e0.join(odeg, "src")
      .repartition(col("src"))
      .localCheckpoint(eager = true)

    val nd = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct()
      .join(odeg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("odeg"), lit(0L)).as("odeg"))
      .localCheckpoint(eager = true)
    val n = nd.count()
    if (n == 0L) // empty graph → empty result, like Triangles/KCore
      edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("node"), lit(0L).as("pr_fixed"),
          lit(0.0).as("pr")).limit(0)
    else {
      val base = ((dampDen - dampNum) * scale) / (dampDen * n)
      var pr = nd.withColumn("pr", lit(scale / n))
      for (_ <- 1 to iterations) {
        // The dangling mass stays IN-PLAN as a one-row broadcast instead
        // of a per-iteration driver-blocking head(): the only scalar the
        // loop truly needs on the driver is n, known up front — the old
        // shape paid one extra full scheduler round-trip per iteration
        // (guide §5: the driver should do no data work). `__dangling DIV n`
        // over non-negative BIGINTs is exactly the old Scala `dangling / n`,
        // so the fixed-point arithmetic is bit-identical.
        val dangling = pr.filter(col("odeg") === 0L)
          .agg(coalesce(sum(col("pr")), lit(0L)).as("__dangling"))
        // The rank table is a checkpointed leaf (stats-less), so without
        // a hint the join sort-merges — sorting the co-partitioned edge
        // table every iteration. Node count n is exact and already on the
        // driver: broadcast the rank side when it fits
        // (Components.maybeBcast; above the cap the old shape returns).
        val contrib = ewd
          .join(Components.maybeBcast(
            pr.select(col("node").as("src"), col("pr").as("__p")), n), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("__p DIV odeg")).as("__c"))
        pr = nd
          .join(contrib, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"), col("odeg"),
            expr(s"CAST($base AS BIGINT) + (CAST($dampNum AS BIGINT) * " +
              s"(coalesce(__c, CAST(0 AS BIGINT)) + " +
              s"(__dangling DIV CAST($n AS BIGINT))))" +
              s" DIV CAST($dampDen AS BIGINT)").as("pr"))
          .localCheckpoint(eager = false)
      }
      pr.select(col("node"), col("pr").as("pr_fixed"),
        (col("pr").cast(DoubleType) / lit(scale.toDouble)).as("pr"))
    }
  }
}
