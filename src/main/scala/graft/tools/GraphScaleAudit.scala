package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the iterative graph tier (round-10 task: the sf0.1
  * audit rows show 42–135 MB shuffles with max-task ≤2.3 MB; this
  * checks the SKEW property survives a 10× larger giant component,
  * which sf0.1 alone cannot show).
  *
  * Fixture: the q269/q281 co-engagement graph at sf0.1, replicated
  * KREP× by node-id offset, then CHAINED into one giant component by
  * bridge edges (replica i's node x ↔ replica i+1's same x for
  * x % 97 == 0) — degree distribution preserved, nodes/edges/giant all
  * ~10×, exactly the growth pattern a 10× corpus produces for a
  * near-dup pair graph. Runs CC (the pointer-jumping fixpoint), LPA,
  * and bounded BFS over it with Profile's listener and prints
  * the same markdown rows (paste into SHUFFLE_AUDIT.md §sf1).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt -batch "runMain graft.tools.GraphScaleAudit" 2>/dev/null | grep '^|'
  */
object GraphScaleAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val krep = sys.env.getOrElse("SPARK_GRAFT_KREP", "10").toInt
    val spark = LocalSession()
    val cpus = spark.sparkContext.defaultParallelism
    val listener = new Profile.Listener
    spark.sparkContext.addSparkListener(listener)
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"

    val off = 10000000L
    val base = graft.operators.Cooccur.coEngagementPairs(
      spark.read.parquet(s"$sfDir/lineitem.parquet"),
      "l_orderkey", "l_partkey", maxDegree = 6)
      .select(col("item_a"), col("item_b"))
    val replicas = (0 until krep).map { i =>
      base.select((col("item_a") + lit(i * off)).as("item_a"),
        (col("item_b") + lit(i * off)).as("item_b"))
    }.reduce(_ unionByName _)
    val bridgeNodes = base.select(col("item_a").as("n"))
      .unionByName(base.select(col("item_b").as("n")))
      .distinct().filter(col("n") % 97 === 0)
    val bridges = (0 until krep - 1).map { i =>
      bridgeNodes.select((col("n") + lit(i * off)).as("item_a"),
        (col("n") + lit((i + 1) * off)).as("item_b"))
    }.reduce(_ unionByName _)
    graft.operators.CacheScope.scoped {
    val edges = graft.operators.CacheScope.track(
      replicas.unionByName(bridges))
    val nEdges = edges.count()
    val nNodes = edges.select(col("item_a").as("n"))
      .unionByName(edges.select(col("item_b").as("n"))).distinct().count()

    println(s"scaled graph: $nNodes nodes, $nEdges edges (krep=$krep)")
    println("| probe | shuffle write MB | shuffle read MB | max task read MB | fair share MB | spill MB | rows |")
    println("|---|---|---|---|---|---|---|")

    def probe(name: String)(body: => Long): Unit = {
      val (rows, c) = listener.record(spark.sparkContext)(body)
      println(s"| $name | ${mb(c.shuffleWrite)} | ${mb(c.shuffleRead)} | " +
        s"${mb(c.maxTaskShuffleRead)} | ${mb(c.shuffleRead / cpus)} | " +
        s"${mb(c.spill)} | $rows |")
    }

    probe(s"cc_${krep}x") {
      val cc = graft.operators.Components
        .connectedComponents(edges, "item_a", "item_b")
      cc.groupBy("component").agg(count(lit(1))).count()
    }
    probe(s"lpa_${krep}x") {
      graft.operators.LabelProp
        .labelPropagation(edges, "item_a", "item_b", rounds = 4).count()
    }
    probe(s"bfs_${krep}x") {
      val seeds = edges.select(col("item_a").as("item"))
        .distinct().filter(col("item") % 97 === 0)
      graft.operators.Components.boundedHops(edges, "item_a", "item_b",
        seeds, "item", maxHops = 4).count()
    }
    // Round-11 extension: the other three iterative gates. Triangles'
    // hashed-orientation join is the probe most exposed to degree skew
    // (a hub's adjacency list fans into the pair join); PageRank and
    // k-core shuffle per node per round like CC/LPA but carry weights /
    // shrinking vertex sets.
    probe(s"pagerank_${krep}x") {
      graft.operators.PageRank.pageRank(edges, "item_a", "item_b",
        iterations = 4).count()
    }
    probe(s"triangles_${krep}x") {
      graft.operators.Triangles.triangleCounts(edges, "item_a", "item_b")
        .count()
    }
    probe(s"kcore_${krep}x") {
      graft.operators.KCore.kCore(edges, "item_a", "item_b", k = 3).count()
    }
    }
    spark.stop()
  }
}
