package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Per-node triangle counting and local clustering coefficient over an
  * undirected simple graph — with [[Components]] (cluster extraction) and
  * [[PageRank]] (centrality) the third graph primitive corpus curation
  * leans on: the clustering coefficient separates genuinely cohesive
  * near-dup communities from hub-and-spoke artifacts (a template page
  * linked by everything produces wedges but few triangles), and triangle
  * density is the standard cheap signal for link-farm detection in a
  * crawl graph.
  *
  * **Degree-ordered orientation** (the Suri–Vassilvitskii / node-iterator
  * MapReduce classic): every undirected edge is oriented from its
  * lower-(degree, id) endpoint to its higher one, wedges are generated
  * only at an edge's LOW endpoint, and a wedge (b, c) closes iff the
  * oriented edge b→c exists. Each triangle has exactly one minimum-rank
  * corner, so it is found exactly once — no /3 correction, no duplicate
  * elimination pass.
  *
  * Why orientation is the 100 TB design and not a nicety: wedge count is
  * Σ_v outdeg(v)², and orienting by degree rank caps every outdeg at
  * O(√|E|) (a node keeps only neighbors of HIGHER degree; more than √E
  * such neighbors would need more than E edges), so the wedge stage is
  * O(E^1.5) worst-case instead of the unoriented Σ deg² — which a power-law
  * graph concentrates on one reducer (the celebrity node's deg² wedges).
  * Under orientation the highest-rank node generates NO wedges at all;
  * skew moves to the tail and the wedge join stays balanced. Three
  * shuffles total: wedge self-join keyed by the low corner, the closing
  * equi-join keyed by (b, c), and the final map-side-combinable per-node
  * count. Everything is exact integers, so results are bit-identical
  * under any partitioning — same contract as [[PageRank]]'s fixed-point
  * and [[Components]]' min-labels.
  *
  * Input tolerance: direction, duplicate edges, and self-loops are all
  * normalized away (undirected SIMPLE graph semantics); NULL endpoints
  * are dropped.
  *
  * Deliberately NOT checkpointed, unlike [[PageRank]]'s edge set: this
  * operator is a single linear plan consumed by one action, and AQE's
  * stage-level exchange reuse already collapses the repeated references
  * to `und`/`oriented` (each ends in an exchange with an identical
  * canonical form) into one materialization. Measured on q106's purchase
  * graph at sf0.1: the un-checkpointed plan shuffles 50.9 MB and re-reads
  * no parquet for the duplicate subtrees; adding localCheckpoints was
  * measured strictly worse (52.0 MB shuffled) because the eager cut
  * blocks pipelining and its cache round-trip replaces free stage reuse.
  * PageRank is the opposite case — a multi-action loop, where nothing is
  * reused across executions without an explicit checkpoint.
  */
object Triangles {

  /** @return one row per node of the normalized graph:
    *         (node LONG, degree LONG, triangles LONG,
    *          wedges LONG = deg·(deg−1)/2,
    *          clustering DOUBLE = triangles/wedges, NULL when deg < 2 —
    *          an exact small-integer ratio, bit-portable across engines)
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = Components.undirectedEdges(edges, srcCol, dstCol)

    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

    // Orient each edge from its lower-(deg, id) endpoint to the higher.
    // The total order makes ties deterministic; `lo` keeps its own rank
    // columns so wedge pairs can re-compare without a join back to deg.
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uLow = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uLow, col("u")).otherwise(col("v")).as("lo"),
      when(uLow, col("v")).otherwise(col("u")).as("hi"),
      when(uLow, col("dv")).otherwise(col("du")).as("dhi"))

    // Wedges at the low corner: unordered {b, c} pairs emitted once via
    // the same (deg, id) rank comparison — which is exactly the
    // orientation of the closing edge, so the final join needs no
    // direction disambiguation.
    val o1 = oriented.select(col("lo"), col("hi").as("b"), col("dhi").as("db"))
    val o2 = oriented.select(col("lo"), col("hi").as("c"), col("dhi").as("dc"))
    val wedges = o1.join(o2, Seq("lo"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val triangles = wedges.join(
      oriented.select(col("lo").as("b"), col("hi").as("c")), Seq("b", "c"))

    val perNode = triangles
      .select(explode(array(col("lo"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))

    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        expr("deg * (deg - 1) DIV 2").as("wedges"),
        when(col("deg") >= 2,
          coalesce(col("tri"), lit(0L)).cast(DoubleType) /
            expr("deg * (deg - 1) DIV 2").cast(DoubleType))
          .as("clustering"))
  }

  /** Degree ASSORTATIVITY coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over edges — positive means hubs
    * attach to hubs (social-network shape), negative means hubs attach
    * to leaves (star/hub-and-spoke, typical of engagement graphs). The
    * one-number "what kind of graph is this" read that decides whether
    * degree-capped pair generation ([[graft.operators.Cooccur]]) costs
    * recall.
    *
    * Each undirected edge contributes BOTH orientations (du,dv) and
    * (dv,du) — the standard symmetric definition, which also makes the
    * sufficient statistics order-free. Exact BIGINT sums + the
    * [[Regression.corrByGroup]] closed form: one sqrt, one division;
    * NULL when degrees are constant (a regular graph has no degree
    * direction). Self-loops and duplicate pairs are dropped first.
    *
    * @return one row: (n_edges, corr) — corr is the assortativity
    */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    // tracked: the canonical edge set feeds the degree aggregate AND
    // both orientation joins — one dedup shuffle, not three
    val e = CacheScope.track(
      edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
        .filter(col("__u") =!= col("__v"))
        .select(least(col("__u"), col("__v")).as("__u"),
          greatest(col("__u"), col("__v")).as("__v"))
        .distinct())
    val sym = e.select(col("__u"), col("__v"))
      .union(e.select(col("__v").as("__u"), col("__u").as("__v")))
    val deg = sym.groupBy("__u").agg(count(lit(1)).as("__deg"))
    val pairs = sym
      .join(deg.select(col("__u"), col("__deg").as("__du")), "__u")
      .join(deg.select(col("__u").as("__v"), col("__deg").as("__dv")), "__v")
      .withColumn("__g", lit(1))
    val r = Regression.corrByGroup(pairs, Seq("__g"), col("__du"),
      col("__dv"))
    // n from corrByGroup counts orientations; halve for edges
    r.select(expr("n DIV 2").as("n_edges"), col("corr"))
  }
}
