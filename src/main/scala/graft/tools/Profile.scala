package graft.tools

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.CacheScope
import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-query profile of any set of `SparkEntry.queries`. Each query runs
  * one warm pass, then one measured pass under Bench's measurement action
  * (`Bench.measure`, so the advertised plan is what runs). The measured
  * pass reports wall time, jobs, stages, tasks, shuffle read and write,
  * the largest single-task shuffle read (a hot reducer shows as a large
  * multiple of read / cores), spill, input bytes, executor CPU, and the
  * job count and job wall time of every `graft.phase` an operator set
  * (see [[graft.obs]]).
  *
  * Usage:
  *   sbt -batch "runMain graft.tools.Profile <queries|all> <tag> [planDir]"
  * reads the tables at `LocalSession.sfDir` (SPARK_GRAFT_SF_DIR).
  * `queries` is a comma-separated list. The result goes to
  * `PROFILE_<tag>.json`, in the directory part of `tag` if it has one.
  * With `planDir`, each query's formatted physical plan is written to
  * `<planDir>/<query>_<tag>.txt`.
  */
object Profile {

  final class Phase { var jobs = 0; var wallMs = 0L }

  /** Spark counters summed over the jobs of one recorded run. */
  final class Counters {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var maxTaskShuffleRead = 0L
    var spill = 0L
    var input = 0L
    var cpuNs = 0L
    val phases = mutable.TreeMap.empty[String, Phase]
  }

  /** Sums job, stage and task events into [[Counters]] and charges each
    * job's wall time to the `graft.phase` it started under.
    */
  final class Listener extends SparkListener {
    private var c = new Counters
    private val open = mutable.HashMap.empty[Int, (String, Long)]

    /** Runs `body` and returns the counters of the jobs it ran. The bus is
      * drained before the counters are zeroed and again before they are
      * read, so no event of an earlier run leaks in and none of this run
      * is missed.
      */
    def record[T](sc: SparkContext)(body: => T): (T, Counters) = {
      GraftListenerBus.drain(sc)
      synchronized { c = new Counters }
      val r = body
      GraftListenerBus.drain(sc)
      (r, synchronized(c))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      c.jobs += 1
      Option(e.properties).flatMap(p => Option(p.getProperty(graft.obs.PhaseKey)))
        .foreach(label => open(e.jobId) = (label, e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (label, t0) =>
        val p = c.phases.getOrElseUpdate(label, new Phase)
        p.jobs += 1
        p.wallMs += e.time - t0
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { c.stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val read = m.shuffleReadMetrics.totalBytesRead
        c.tasks += 1
        c.shuffleRead += read
        c.maxTaskShuffleRead = math.max(c.maxTaskShuffleRead, read)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.cpuNs += m.executorCpuTime
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      run(spark, LocalSession.sfDir, args)
    } finally spark.stop()
  }

  /** Profiles the queries `args` names (see the usage above) at `sfDir`
    * and returns the path of the JSON written.
    */
  def run(spark: SparkSession, sfDir: String, args: Array[String]): Path = {
    require(args.length == 2 || args.length == 3,
      "usage: Profile <queries|all> <tag> [planDir]")
    val all = graft.SparkEntry.queries
    val names =
      if (args(0) == "all") all.keys.toSeq.sorted
      else args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val tagPath = Paths.get(args(1))
    val tag = tagPath.getFileName.toString
    val out = Option(tagPath.getParent).getOrElse(Paths.get("."))
      .resolve(s"PROFILE_$tag.json")
    val planDir = args.lift(2).map(Paths.get(_))

    val mapper = new ObjectMapper
    val root = mapper.createObjectNode()
    root.put("tag", tag).put("sf_dir", sfDir)
      .put("cores", spark.sparkContext.defaultParallelism)
    val queries = root.putObject("queries")
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    def secs(ns: Double): Double = math.round(ns / 1e6) / 1e3
    try names.foreach { name =>
      val fn = all(name)
      def pass(): Double = {
        val t0 = System.nanoTime()
        CacheScope.scoped(graft.Bench.measure(name, fn(spark, sfDir)))
        secs((System.nanoTime() - t0).toDouble)
      }
      val q = queries.putObject(name)
      try {
        pass()
        val (wall, c) = listener.record(spark.sparkContext)(pass())
        q.put("wall_s", wall).put("jobs", c.jobs).put("stages", c.stages)
          .put("tasks", c.tasks).put("shuffle_read_bytes", c.shuffleRead)
          .put("shuffle_write_bytes", c.shuffleWrite)
          .put("max_task_shuffle_read_bytes", c.maxTaskShuffleRead)
          .put("spill_bytes", c.spill).put("input_bytes", c.input)
          .put("executor_cpu_s", secs(c.cpuNs.toDouble))
        val phases = q.putObject("phases")
        c.phases.foreach { case (label, p) =>
          phases.putObject(label).put("jobs", p.jobs)
            .put("job_wall_s", p.wallMs / 1e3)
        }
        println(f"$name%-36s $wall%8.3f s ${c.jobs}%5d jobs ${c.stages}%5d stages " +
          f"${c.tasks}%6d tasks ${c.shuffleRead / 1e6}%8.2f MB shuffle read")
        c.phases.foreach { case (label, p) =>
          println(f"  $label%-34s ${p.wallMs / 1e3}%8.3f s ${p.jobs}%5d jobs")
        }
        planDir.foreach { d =>
          Files.createDirectories(d)
          CacheScope.scoped(Files.writeString(d.resolve(s"${name}_$tag.txt"),
            fn(spark, sfDir).queryExecution.explainString(FormattedMode)))
        }
      } catch {
        case NonFatal(e) =>
          q.put("error", e.toString)
          println(s"$name FAILED: $e")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    Files.createDirectories(out.toAbsolutePath.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(out.toFile, root)
    out
  }
}
