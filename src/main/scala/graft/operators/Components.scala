package graft.operators

import graft.obs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the step that turns
  * near-duplicate PAIRS (MinHash / SimHash / embedding candidates) into
  * dedup CLUSTERS with one canonical representative (the min id), which is
  * what a training-data pipeline actually acts on: keep the representative,
  * drop the rest.
  *
  * Two-phase hybrid, each phase covering the other's weak case:
  *
  * 1. **Star contraction** (one pass over the full adjacency): every node
  *    labels itself min(self, neighbors) — a map-side-combinable hash
  *    aggregate, so a 10M-member duplicate cluster reduces its offers
  *    inside map tasks instead of funneling one reducer — then every edge
  *    is rewritten through the labels and only label-crossing edges
  *    survive. The dense near-clique graphs dedup actually produces
  *    collapse here: a clique becomes a point. The full edge set is
  *    scanned O(1) times total — a propagate-until-fixpoint loop over it
  *    would re-scan every edge every round (measured 2× slower at 589k
  *    bench edges, and the gap grows with density).
  *
  * 2. **Min-label propagation with pointer jumping** on the contracted
  *    remnant: per round, each node takes the min label across its edges
  *    (combinable agg again), then label(u) <- label(label(u)) halves the
  *    remaining pointer depth, giving O(log diameter) rounds — the
  *    guarantee plain contraction lacks (a long chain shrinks by ONE node
  *    per contraction, but is exactly the shape jumping eats). The
  *    remnant is a fraction of the input (every labeled star collapsed),
  *    so full-scan-per-round is cheap where it runs.
  *
  * Convergence test (phase 2): labels only ever DECREASE, so the Decimal
  * sum of all labels is a strictly decreasing measure until fixpoint —
  * one scalar aggregate per round instead of a previous-vs-current
  * anti-join (Decimal(38) stays exact where a double sum could miss a
  * single-node change at 1e15 id scale).
  *
  * Iterative outputs are `localCheckpoint`ed: an iterative self-joining
  * DataFrame otherwise doubles its logical plan every round (analysis
  * cost grows exponentially) — checkpointing truncates lineage to the
  * materialized result. On a multi-executor cluster a production job
  * would point `spark.checkpoint.dir` at reliable storage and use
  * `checkpoint()` instead (localCheckpoint blocks are lost with an
  * executor); same plan shape either way.
  *
  * Determinism: the result is the component-min labeling — a pure
  * function of the edge SET, independent of partitioning, merge order,
  * or round count (every intermediate label is the min over a subset of
  * its component; composition bottoms out at the component min). That is
  * what makes a parallel log-round graph algorithm oracle-checkable
  * against a sequential recursive-CTE engine.
  */
object Components {

  /** Row cap under which a label table is BROADCAST into its lookup
    * joins (guide §3.1). Label maps here are localCheckpoint'd RDDs,
    * whose leaves carry no size statistics — the planner assumes
    * "huge" and picks sort-merge, shuffling the full edge set per
    * lookup, and AQE cannot rescue a join whose build side is a
    * stats-less leaf. The row counts, however, are KNOWN exactly at
    * runtime (the checkpoint is materialized; counting it is a cheap
    * cache scan), so the strategy choice is made from measured size,
    * not estimates — the same decision AQE makes where it can see.
    * Default 4M rows ≈ 64 MB of (long, long) pairs, well under the
    * broadcast cap; tune `spark.graft.graph.broadcastMaxRows` per deployment
    * (0 disables). Above the cap the plan is exactly the previous
    * sort-merge shape — no regression at 100-TB node counts.
    */
  private def bcastMaxRows(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.graph.broadcastMaxRows",
      "4000000").toLong

  /** The simple undirected edge set `(u, v)` with u < v of
    * `edges(srcCol, dstCol)`: ids cast to long, NULL ends and self-loops
    * dropped, each edge once whatever its direction or multiplicity.
    * The input normalization of LabelProp, modularity, KCore and
    * Triangles.
    */
  private[operators] def undirectedEdges(edges: DataFrame, srcCol: String,
                                         dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast(LongType).as("a"), col(dstCol).cast(LongType).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Whether a `rows`-row table is under the measured-size broadcast
    * cap — exposed so iterative operators can condition LAYOUT choices
    * (e.g. which key to pre-partition a checkpointed adjacency by) on
    * the same decision [[maybeBcast]] will make inside their loop.
    */
  private[operators] def broadcastFits(df: DataFrame, rows: Long): Boolean =
    rows <= bcastMaxRows(df)

  private[operators] def maybeBcast(df: DataFrame, rows: Long): DataFrame =
    if (broadcastFits(df, rows)) broadcast(df) else df

  /** Edge-count cap under which the component fixpoint collapses into a
    * SINGLE executor task running union-find (guide §1.2 step 1: the
    * distributed algorithm itself is the first thing to choose). A
    * dedup query's pair set at any corpus scale is small when floods
    * are guarded (star/representative edges, occupancy caps), yet the
    * distributed star-contraction + fixpoint costs ~30 scheduler jobs
    * (checkpoint fills, convergence probes, lookup joins) — measured
    * 2.4–5.8 s of almost pure scheduling per keepCanonical at sf0.1
    * against ~0.1 s of actual union-find CPU. Below the cap the
    * persisted edge set is coalesced into one task and labeled with
    * path-compressed union-find (min-root, so the result is the exact
    * component-min labeling — identical to the fixpoint's output);
    * above it the distributed shape is byte-identical to before. The
    * decision reads the MEASURED count of the already-persisted edge
    * set — the maybeBcast discipline, never a planner estimate.
    * Default 2M edges ≈ 32 MB in the one task, the build-side ballpark
    * a broadcast join already accepts; `spark.graft.graph.localCcMaxEdges`
    * tunes it per deployment (0 disables).
    */
  private def localCcMaxEdges(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.graph.localCcMaxEdges",
      "2000000").toLong

  /** Union-find CC over a persisted, null-free, self-loop-free edge
    * list, in ONE task (see [[localCcMaxEdges]]). Union-by-min keeps
    * every root the minimum of its set, so `find` at the end IS the
    * component-min label.
    */
  private def localCc(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val out = e.rdd.coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent.update(c, r); c = n }
        r
      }
      it.foreach { row =>
        val u = row.getLong(0); val v = row.getLong(1)
        if (!parent.contains(u)) parent.update(u, u)
        if (!parent.contains(v)) parent.update(v, v)
        val ru = find(u); val rv = find(v)
        if (ru < rv) parent.update(rv, ru)
        else if (rv < ru) parent.update(ru, rv)
      }
      val nodes = parent.keys.toArray
      nodes.iterator.map(n => org.apache.spark.sql.Row(n, find(n)))
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** label(u) = min(u, min neighbor): one combinable hash aggregate. */
  private def starMin(g: DataFrame): DataFrame =
    g.groupBy(col("u"))
      .agg(min(col("v")).as("__mn"))
      .select(col("u").as("node"), least(col("u"), col("__mn")).as("comp"))

  /** Edges relabeled through `m` (checkpointed, so the two lookups don't
    * recompute anything), self-loops dropped, deduped — the distinct is
    * what makes the remnant SHRINK: a contracted clique is thousands of
    * copies of the same few super-edges. `mRows` = m's materialized row
    * count, for the measured-size broadcast decision.
    */
  private def contract(g: DataFrame, m: DataFrame, mRows: Long): DataFrame =
    g.join(maybeBcast(m.select(col("node").as("__nu"),
        col("comp").as("__cu")), mRows), col("u") === col("__nu"))
      .join(maybeBcast(m.select(col("node").as("__nv"),
        col("comp").as("__cv")), mRows), col("v") === col("__nv"))
      .select(col("__cu").as("u"), col("__cv").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** comp' = m(comp) where defined, else comp. */
  private def applyMap(base: DataFrame, m: DataFrame,
                       mRows: Long): DataFrame =
    base.join(maybeBcast(m.select(col("node").as("__n"),
        col("comp").as("__c")), mRows),
        base("comp") === col("__n"), "left")
      .select(base("node").as("node"),
        coalesce(col("__c"), base("comp")).as("comp"))

  private def labelSum(l: DataFrame): java.math.BigDecimal = {
    val d = l.agg(sum(col("comp").cast(DecimalType(38, 0)))).head.getDecimal(0)
    if (d == null) java.math.BigDecimal.ZERO else d
  }

  /** Phase 2: propagate+jump until fixpoint over a (small, checkpointed)
    * symmetric edge set; returns the component-min (node, comp) labeling
    * of the nodes appearing in `g`.
    */
  private def propagateToFixpoint(g: DataFrame, maxRounds: Int,
                                  eagerControl: Boolean): (DataFrame, Long) = {
    // LAZY localCheckpoint throughout the loop. Under AQE the checkpoint
    // call still materializes the plan's shuffle stages (execute() on an
    // adaptive plan runs its query stages), so laziness does NOT defer
    // the round's real work — what it removes is the eager form's final
    // count() job: a whole extra pass over the freshly persisted
    // partitions, once per round, whose only purpose was to fill blocks
    // the convergence probe is about to read anyway. The Decimal
    // label-sum probe becomes the first reader of the checkpointed
    // blocks instead (measured on a 16-chain: ~61 → ~53 scheduler jobs;
    // the saving scales with rounds × partitions on a real cluster).
    // `eagerControl` reinstates the eager form — NEVER set in production;
    // it exists so ComponentsSpec can assert lazy < eager on measured
    // job counts in the same JVM instead of pinning a brittle absolute
    // ceiling to one Spark version's scheduler behavior.
    var labels = starMin(g).localCheckpoint(eager = eagerControl)
    var prevSum = labelSum(labels) // materializes the checkpoint
    // The node set is CONSTANT across rounds (starMin emits every node
    // of the symmetric remnant; offers only re-target existing nodes),
    // so one count of the materialized checkpoint prices the broadcast
    // decision for every lookup join in the loop (see bcastMaxRows).
    val nNodes = labels.count()
    var round = 0
    var converged = nNodes == 0L
    while (!converged) {
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds")
      // fresh aliases on BOTH union branches: `offers` derives from
      // `labels`, so without re-aliasing the branches share attribute ids
      // and Union's constraint rewrite trips over the self-reference
      val bl = maybeBcast(labels, nNodes)
      val offers = g.join(bl, g("u") === bl("node"))
        .select(col("v").as("node"), col("comp").as("comp"))
      // persisted for the pointer-jump self-join: Spark does not reuse
      // the exchange across differently-aliased self-join sides, so an
      // uncached `merged` would run the whole propagate pipeline twice
      val merged = labels.select(col("node").as("node"), col("comp").as("comp"))
        .union(offers)
        .groupBy("node").agg(min("comp").as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val jumped = applyMap(merged, merged, nNodes)
        .localCheckpoint(eager = eagerControl)
      val s = labelSum(jumped) // ONE action: checkpoint fill + probe
      // unpersist AFTER the sum: it is the job that materializes
      // `jumped`; dropping `merged` first would recompute it twice there
      merged.unpersist()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = jumped
      round += 1
    }
    (labels, nNodes)
  }

  /** (id, component) for every node that appears in `edges`; `component`
    * is the smallest node id reachable from `id`. Nodes absent from the
    * edge list are absent from the output (callers union singletons back
    * with component = own id, typically via a left join + coalesce).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxRounds: Int = 50): DataFrame =
    connectedComponentsImpl(edges, srcCol, dstCol, maxRounds,
      eagerControl = false)

  /** [[connectedComponents]] with the checkpoint-mode control exposed —
    * test-only (see `eagerControl` on [[propagateToFixpoint]]).
    */
  private[graft] def connectedComponentsImpl(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int, eagerControl: Boolean): DataFrame = {
    // Persist the one-directional edges BEFORE symmetrizing: the union's
    // two branches would otherwise each evaluate the upstream pair
    // generation (a dedup candidate pipeline is the typical input —
    // running it twice doubled q47's cost before this cache).
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Symmetrized adjacency — scanned exactly twice (star-merge +
    // contraction), but NOT persisted: it is a union of two projections
    // of the cached one-directional edges, so each scan is two cheap
    // cache reads, where persisting it would write (and hold) a second,
    // 2×-sized copy of the edge set just to save those reads. No dedup
    // pass either: the min aggregate is idempotent, parallel edges just
    // repeat an offer that map-side combine collapses.
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    try {
      // One count of the persisted edge set prices the algorithm choice
      // (and doubles as the cache fill the first fixpoint action paid
      // before). It runs under the caller's phase, not an arm's: filling
      // the cache evaluates the caller's edge plan. eagerControl pins the
      // distributed path — it is the checkpoint-mode test knob and must
      // measure the fixpoint.
      val eCount = e.count()
      val local = !eagerControl && eCount <= localCcMaxEdges(e)
      if (local) obs.phase("cc.union_find") {
        // Single-task union-find (see localCcMaxEdges). Checkpointed
        // eagerly: downstream consumers (health checks read the labeling
        // 2-3×) get the materialized result, and `e` can unpersist.
        localCc(e).localCheckpoint(eager = true)
      } else obs.phase("cc.fixpoint") {
        val m0 = starMin(sym).localCheckpoint()
        // materialized by the checkpoint, so this is a cheap cache scan;
        // it prices the broadcast decision for the two contract lookups
        val nNodes = m0.count()
        val remnant = contract(sym, m0, nNodes).localCheckpoint()
        val labels =
          if (remnant.isEmpty) m0
          else {
            val (fix, nRem) =
              propagateToFixpoint(remnant, maxRounds, eagerControl)
            applyMap(m0, fix, nRem)
          }
        labels.select(col("node").as("id"), col("comp").as("component"))
      }
    } finally e.unpersist()
  }

  /** Cluster assignment for a full table: every row of `df` labeled with
    * its duplicate-cluster component (its own id when it appears in no
    * pair), the cluster size, and whether it is the canonical (min-id)
    * representative — the row a dedup pass keeps.
    */
  /** The corpus AFTER near-dup removal: rows of `df` whose id is its
    * cluster's canonical (min-id) representative — singletons survive by
    * definition. The end-to-end "dedup this corpus" API: pairs → clusters
    * → keep one per cluster, in one call.
    *
    * Cheaper than filtering [[dedupClusters]]: non-canonical ids are
    * exactly the component-labeled nodes with id ≠ label, so one
    * left-anti join drops them — no cluster-size aggregate, and `df`'s
    * payload is never joined against the full labeling, only against the
    * (smaller) drop list.
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                    iCol: String = "i", jCol: String = "j"): DataFrame = {
    val losers = connectedComponents(pairs, iCol, jCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                    iCol: String = "i", jCol: String = "j"): DataFrame = {
    val comps = connectedComponents(pairs, iCol, jCol)
    val labeled = df.select(col(idCol))
      .join(comps, col(idCol) === col("id"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component"))
    val sizes = labeled.groupBy("component").agg(count(lit(1)).as("n_members"))
    labeled.join(sizes, "component")
      .select(col(idCol), col("component"), col("n_members"),
        (col(idCol) === col("component")).cast("long").as("is_canonical"))
  }

  /** INCREMENTAL connected components: merge a batch of NEW edges into
    * an existing labeling without re-pairing the corpus — the
    * cluster-maintenance step behind incremental dedup (q71 maintains
    * the pair stream; this maintains the CLUSTERS). Old components
    * enter the fixpoint as STAR edges (node → its label), so each old
    * cluster is a depth-1 tree and rounds converge on the NEW structure,
    * not the corpus's: work ∝ new edges + one pass over the label
    * table, never the historical pair set.
    *
    * Correctness: min-label CC is associative over edge unions, so
    * CC(star(old) ∪ new) = CC(oldPairs ∪ new) restricted to the same
    * nodes — the full-recompute identity the gate checks. Old
    * SINGLETONS (self-labeled, no new edges) drop out of the fixpoint
    * (CC ignores self-loops) and are restored by the final coalesce;
    * likewise any node the fixpoint never touched keeps its old label.
    *
    * @param oldLabels (id, component) from a prior [[connectedComponents]]
    * @return (id, component) over old ∪ new nodes
    */
  def incrementalComponents(oldLabels: DataFrame, newEdges: DataFrame,
                            srcCol: String, dstCol: String): DataFrame =
    obs.phase("cc.incremental") {
    val star = oldLabels.select(col("id").as("__s"),
      col("component").as("__d"))
    val nw = newEdges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    val cc = connectedComponents(star.unionByName(nw), "__s", "__d")
      .select(col("id"), col("component").as("__new"))
    val nodes = oldLabels.select(col("id"))
      .unionByName(newEdges.select(col(srcCol).as("id")))
      .unionByName(newEdges.select(col(dstCol).as("id")))
      .distinct()
    nodes
      .join(cc, Seq("id"), "left")
      .join(oldLabels.select(col("id"), col("component").as("__old")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("__old"), col("id")).as("component"))
  }

  /** Bounded-hop BFS distances from a SEED set — "how far is every item
    * from the nearest flagged one", the reachability read behind
    * contamination-spread audits (how many hops from any benchmark-
    * overlapping doc?) and effective-diameter estimates. Distances are
    * exact minimum hop counts up to `maxHops`; nodes unreached within
    * the bound are absent (callers left-join and treat NULL as > max —
    * the [[connectedComponents]] singleton convention).
    *
    * Scale shape: `maxHops` unrolled rounds (the KCore unrolled-round
    * contract — the bound is the operator's semantics, not a fuel
    * limit); each round is one frontier⋈edges equi-join + a min-merge,
    * with the label set persisted per round so lineage stays flat.
    * Edges symmetrize once up front. Cost ∝ Σ frontier sizes · degree —
    * the textbook distributed BFS bound.
    *
    * @return (node, d) — d ∈ [0, maxHops], minimum hops from any seed
    */
  def boundedHops(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxHops: Int): DataFrame = obs.phase("bfs") {
    require(maxHops >= 0, "negative hop bound")
    // ONE exchange for the adjacency, partitioned by the probe key u
    // (hash(u) co-locates every (u, v) copy, so the dedup aggregate
    // needs no second exchange — ClusteredDistribution(u, v) is
    // satisfied by HashPartitioning(u)), and the cached partitioning is
    // what every round's frontier⋈e join then reuses: without it the
    // planner re-exchanged the FULL edge set by u once per hop (the
    // dominant shuffle of the 4-hop reach, measured 58 MB/round-set at
    // sf0.1), where the frontier is the small, changing side.
    val e = CacheScope.track(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
        .filter(col("u") =!= col("v"))
        .repartition(col("u"))
        .dropDuplicates("u", "v"))
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("d", lit(0L))
    // Early exit on layer convergence: BFS assigns each node its FINAL
    // distance the round it is discovered (a node found at hop h cannot
    // later improve — offers only ever carry d ≥ current minima), so a
    // round that adds no new nodes makes every later round a no-op and
    // the loop can stop. The per-round count() doubles as the action
    // that fills the round's cache (the next round's join was going to
    // materialize it anyway), so convergence detection costs one cache
    // scan, not an extra pass — and at any scale it saves the full
    // frontier⋈edges join of each converged round.
    var prevCount = -1L
    var h = 1
    var converged = false
    while (h <= maxHops && !converged) {
      // only the PREVIOUS round's frontier can discover new nodes — any
      // node at distance h is adjacent to one at h−1. SHUFFLE_HASH on
      // the frontier: the build side is the frontier slice, so the big
      // cached adjacency is neither re-exchanged (co-partitioned) nor
      // sorted (no sort-merge), guide §3.1.
      val frontier = dist.filter(col("d") === lit(h - 1L)).hint("SHUFFLE_HASH")
      val offers = frontier.join(e, frontier("node") === e("u"))
        .select(col("v").as("node"), lit(h.toLong).as("d"))
      dist = CacheScope.track(
        dist.unionByName(offers).groupBy("node").agg(min("d").as("d")))
      val c = dist.count()
      converged = c == prevCount
      prevCount = c
      h += 1
    }
    dist
  }
}
