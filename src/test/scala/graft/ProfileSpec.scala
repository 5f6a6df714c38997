package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.Components
import graft.tools.Profile

/** Operator phase labels (`graft.obs.phase`) as Profile's listener sees
  * them, and an end-to-end Profile run on two real queries.
  */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private val CcCap = "spark.graft.graph.localCcMaxEdges"

  /** Phase labels of the jobs `body` ran, with their job counts. */
  private def phases(body: => Unit): Map[String, Int] = {
    val listener = new Profile.Listener
    spark.sparkContext.addSparkListener(listener)
    try listener.record(spark.sparkContext)(body)._2.phases
      .map { case (label, p) => label -> p.jobs }.toMap
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def ccPhases(cap: Option[String]): Map[String, Int] = {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val prior = spark.conf.getOption(CcCap)
    cap.foreach(spark.conf.set(CcCap, _))
    try phases {
      Components.connectedComponents(edges, "i", "j").collect()
      ()
    } finally prior match {
      case Some(v) => spark.conf.set(CcCap, v)
      case None => spark.conf.unset(CcCap)
    }
  }

  test("connectedComponents labels its jobs with the arm it chose") {
    val local = ccPhases(None)
    assert(local.keySet === Set("cc.union_find"), local)
    assert(local("cc.union_find") > 0)
    val fixpoint = ccPhases(Some("0"))
    assert(fixpoint.keySet === Set("cc.fixpoint"), fixpoint)
    assert(fixpoint("cc.fixpoint") > 0)
    assert(spark.conf.getOption(CcCap).isEmpty, "cap conf not restored")
  }

  test("nested phases join with '/' and restore the outer label, also on throw") {
    val sc = spark.sparkContext
    assert(sc.getLocalProperty(obs.PhaseKey) == null)
    obs.phase("outer") {
      assert(sc.getLocalProperty(obs.PhaseKey) === "outer")
      obs.phase("inner") {
        assert(sc.getLocalProperty(obs.PhaseKey) === "outer/inner")
      }
      assert(sc.getLocalProperty(obs.PhaseKey) === "outer")
      intercept[IllegalStateException] {
        obs.phase("failing") {
          assert(sc.getLocalProperty(obs.PhaseKey) === "outer/failing")
          throw new IllegalStateException("boom")
        }
      }
      assert(sc.getLocalProperty(obs.PhaseKey) === "outer")
    }
    assert(sc.getLocalProperty(obs.PhaseKey) == null)
    val seen = phases {
      obs.phase("a") {
        obs.phase("b")(spark.range(10).count())
        spark.range(10).count()
      }
      ()
    }
    assert(seen.keySet === Set("a/b", "a") && seen.values.forall(_ > 0), seen)
  }

  test("phase leaves perfbench.span, the job group and the description alone") {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.span", "span-7")
    sc.setJobGroup("group-7", "description-7")
    try {
      def others = Seq("perfbench.span", "spark.jobGroup.id",
        "spark.job.description").map(sc.getLocalProperty)
      val before = others
      assert(before === Seq("span-7", "group-7", "description-7"))
      obs.phase("x") {
        assert(others === before)
        obs.phase("y")(assert(others === before))
      }
      assert(others === before)
    } finally {
      sc.setLocalProperty("perfbench.span", null)
      sc.clearJobGroup()
    }
  }

  test("Profile writes every per-query field and the operators' phases") {
    val dir = Files.createTempDirectory("graft_profile_")
    val queries = Seq("q105_pagerank", "q380_incremental_guard")
    val out = Profile.run(spark, "/root/testdata/sf0.01",
      Array(queries.mkString(","), dir.resolve("smoke").toString))
    assert(out === dir.resolve("PROFILE_smoke.json"))
    val root = new ObjectMapper().readTree(Files.readString(out))
    assert(root.get("tag").asText() === "smoke")
    val fields = Seq("wall_s", "jobs", "stages", "tasks",
      "shuffle_read_bytes", "shuffle_write_bytes",
      "max_task_shuffle_read_bytes", "spill_bytes", "input_bytes",
      "executor_cpu_s", "phases")
    queries.foreach { q =>
      val node = root.get("queries").get(q)
      assert(node != null, s"$q missing")
      assert(!node.has("error"), s"$q failed: ${node.get("error")}")
      fields.foreach(f => assert(node.has(f), s"$q lacks $f"))
      assert(node.get("jobs").asInt() > 0, s"$q ran no jobs")
    }
    val pagerank = root.get("queries").get("q105_pagerank").get("phases")
      .get("pagerank")
    assert(pagerank != null && pagerank.get("jobs").asInt() > 0)
    assert(pagerank.has("job_wall_s"))
    Files.delete(out)
    Files.delete(dir)
  }
}
