package graft.operators

import graft.obs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA, Raghavan–Albert–Kumara) over an
  * undirected simple graph — the community-detection primitive next to
  * [[Components]] (which finds CONNECTED pieces; LPA splits a connected
  * graph into DENSE neighborhoods, e.g. topic clusters in a near-dup
  * pair graph or product communities in a purchase graph).
  *
  * Semantics, pinned for determinism: every node starts with its own id
  * as label; each ROUND every node simultaneously adopts the most
  * frequent label among its NEIGHBORS (its own current label does not
  * vote), ties broken toward the SMALLEST label; after `rounds` rounds
  * the (node, label) assignment is emitted. Synchronous updates make the
  * result independent of visit order — the property that lets a parallel
  * engine hash-match a sequential SQL oracle bit-for-bit — at the
  * documented cost that classic ASYNC LPA's convergence theorem does not
  * apply: bipartite-ish regions can oscillate with period 2, so the
  * contract is "exactly `rounds` synchronous rounds" (the [[KCore]]
  * unrolled-round pattern), not "the fixpoint".
  *
  * 100 TB story: one round = one equi-join of the symmetrized adjacency
  * against the label table (both keyed by node — co-partitioned after
  * the first round) + one map-side-combinable (node, label) count + one
  * `min_by` argmax per node. No driver-side graph, no collect; per-round
  * shuffle is bounded by edge count. Labels are `localCheckpoint`ed per
  * round to truncate lineage exactly as [[PageRank]]; a cluster
  * deployment swaps in reliable `checkpoint`. Input tolerance matches
  * [[Triangles]]: direction, duplicates and self-loops normalize away;
  * NULL endpoints drop.
  */
object LabelProp {

  /** @param rounds number of synchronous rounds (≥ 1)
    * @return (node LONG, label LONG) — the label after `rounds` rounds;
    *         isolated nodes (no edges) are absent, as in every graph
    *         operator here
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = obs.phase("lpa") {
    require(rounds >= 1, "need at least one round")
    val und = Components.undirectedEdges(edges, srcCol, dstCol)
    // The edge set is materialized once; the label spine and the node
    // count are derived from it BEFORE the adjacency layout is chosen.
    val undCp = und.localCheckpoint(eager = true)
    var labels = undCp.select(col("u").as("node"))
      .unionAll(undCp.select(col("v").as("node")))
      .distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(eager = true)
    val nNodes = labels.count() // materialized: cheap cache scan
    // The adjacency is checkpointed PRE-PARTITIONED (localCheckpoint
    // preserves the partitioning in its LogicalRDD — the PageRank ewd
    // pattern), and the KEY is conditioned on the same measured-size
    // decision maybeBcast makes inside the loop:
    //  - labels fit the broadcast cap (the common case): the per-round
    //    join is a broadcast-hash that PRESERVES the streamed side's
    //    partitioning, so laying adj out by the AGGREGATION key `node`
    //    lets both per-round aggregates (the (node, label) vote count
    //    and the per-node argmax — hash(node) clusters both) run with
    //    ZERO exchanges: one single-stage pass per round, where the old
    //    hash(nbr) layout re-exchanged the full message stream twice.
    //  - labels above the cap: the join is the shuffle it always was,
    //    keyed by nbr, so the old hash(nbr) layout stays — one exchange
    //    for the join, and the vote stream pays its aggregation
    //    exchange, exactly the pre-round-18 plan. No 100-TB regression.
    val adjKey = if (Components.broadcastFits(labels, nNodes)) "node" else "nbr"
    val adj = undCp.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(undCp.select(col("v").as("node"), col("u").as("nbr")))
      .repartition(col(adjKey))
      .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      labels = adj
        .join(Components.maybeBcast(
          labels.withColumnRenamed("node", "nbr"), nNodes), "nbr")
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        // argmax by (count DESC, label ASC) in one aggregate: min_by over
        // the lexicographic (-cnt, label) struct — no per-node sort, no
        // row_number window over the full message table.
        .agg(min_by(col("label"),
          struct((-col("cnt")).as("nc"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("node"), col("label"))
  }

  /** Per-community MODULARITY contributions for a given (node, label)
    * assignment — the quality read for [[labelPropagation]]'s output
    * (Newman–Girvan): Q = Σ_c [ e_c/m − (d_c/2m)² ], returned as exact
    * BIGINT numerators q_num = 4m·e_c − d_c² per community plus the one
    * shared denominator 4m², so Q = Σ q_num / (4m²) and the whole table
    * hash-gates (the [[Profiling.chiSquaredCells]] discipline — return
    * the cells, the statistic is their sum).
    *
    * Scale shape: degree counts and intra-community edge counts are two
    * map-side-combinable aggregates; the label table joins edges by
    * endpoint (the LPA round shape, co-partitioned by node); everything
    * after the first aggregates is bounded by community count. Overflow
    * contract: d_c ≤ 2m, so q_num needs 4m² < 2^63 ⇒ m below ~1.5e9
    * edges; shard by community or lift to Decimal beyond.
    *
    * Input edges normalize exactly as [[labelPropagation]] (direction,
    * duplicates, self-loops; NULLs drop); communities with zero internal
    * edges report e_in = 0, not NULL.
    *
    * @param labels (node, label) as produced by [[labelPropagation]]
    * @return (label, n_nodes, d_sum, e_in, m, q_num, q_contrib)
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame): DataFrame = obs.phase("modularity") {
    val und = Components.undirectedEdges(edges, srcCol, dstCol)
    // Measured-size broadcast of the label table into its three lookup
    // joins (Components.maybeBcast): callers pass a checkpointed LPA
    // labeling whose leaf carries no stats, so the planner would
    // otherwise sort-merge the full edge set against it three times.
    // The count is a cheap scan of the materialized labeling.
    val lab0 = labels.select(col("node"), col("label"))
    val nLab = lab0.count()
    val lab = Components.maybeBcast(lab0, nLab)
    val dsum = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
      .join(lab, "node")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("d_sum"))
    val ein = und
      .join(lab.select(col("node").as("u"), col("label").as("__lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("__lv")), "v")
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("label")).agg(count(lit(1)).as("e_in"))
    val m = und.agg(count(lit(1)).as("m"))
    dsum.join(ein, Seq("label"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("q_num",
        lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
      .withColumn("q_contrib",
        col("q_num").cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"))
  }
}
