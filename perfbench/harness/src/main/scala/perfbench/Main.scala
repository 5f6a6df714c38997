package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: set up (session, inputs, untimed warm-up passes), then
  * timed passes for `--seconds`, at least one. Prints one JSON result line
  * last on stdout. Launched by perfbench/run.py, which builds the classpath
  * and passes absolute paths.
  *
  * Load model: closed loop, one client. The driver thread makes one call at
  * a time into the library's public entry points, in one JVM on
  * `local[cores]`.
  */
object Main {

  /** One query per graph/dedup operator: PageRank, KCore, LabelProp, LSH
    * dedup + CC, payload build/decode, occupancy guard.
    */
  val GraphDedup: Seq[String] = Seq(
    "q105_pagerank", "q108_kcore", "q132_label_prop", "q47_dedup_clusters",
    "q375_incremental_audio_dedup", "q380_incremental_guard")

  val Workloads = Seq("medallion", "graph_dedup")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, work: Path, out: Path, cores: Int)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("root")), Paths.get(m("work")),
      Paths.get(m("out")), m("cores").toInt)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  /** Per-pass record; `layer` and `rows` are filled only in trace runs. */
  final case class PassRecord(n: Int, wallS: Double, ops: Seq[OpResult], heapMb: Double,
                              layer: Map[String, Double], rows: Seq[Map[String, Any]])

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val uptimeAtEntryS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parseArgs(argv)
    val ok = run(a, () => uptimeAtEntryS + (System.nanoTime() - entryNs) / 1e9)
    System.exit(if (ok) 0 else 1)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(a: Args, sinceStartS: () => Double): Boolean = {
    val spark = session(a)
    val tracer = new Tracer
    val expected = Expected.load(a.root.resolve("perfbench/expected.tsv"))
    val dataDir = a.root.resolve("perfbench/data/sf0.01").toString
    val (workload, warmups) = a.workload match {
      case "medallion" => (new MedallionWorkload(spark, tracer, a.work.resolve("medallion"),
        a.seed, expected), 0)
      case "graph_dedup" =>
        (new QueryWorkload(spark, tracer, dataDir, GraphDedup, expected, a.seed), 1)
    }
    val attempted = mutable.ArrayBuffer.empty[OpResult]
    def runPass(n: Int): (Long, Double, PassOutcome) = {
      val t0 = System.nanoTime()
      var passSpan = 0L
      val out = tracer.span(0L, n, "pass", a.workload) { id =>
        passSpan = id
        spark.sparkContext.setLocalProperty(Probe.SpanProperty, id.toString)
        try workload.pass(n, id)
        finally spark.sparkContext.setLocalProperty(Probe.SpanProperty, null)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val checked = workload.verify(n, out)
      System.err.println(f"[perfbench] pass $n checked in ${(System.nanoTime() - t0) / 1e9 - wallS}%.3f s")
      attempted ++= checked.ops
      (passSpan, wallS, checked)
    }

    workload.prepare()
    (1 to warmups).foreach(w => runPass(-w))
    val setupS = sinceStartS()
    System.err.println(f"[perfbench] set up in $setupS%.3f s")

    val probe = new Probe
    if (a.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val loopStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      val n = passes.size + 1
      if (a.trace) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        probe.reset()
      }
      val gcBefore = gcMillis()
      val (passSpan, wallS, out) = runPass(n)
      val gcS = (gcMillis() - gcBefore) / 1e3
      val heapMb = liveHeapMb()
      val (layer, rows) =
        if (!a.trace) (Map.empty[String, Double], Nil)
        else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val (l, r) = Layers.ofPass(tracer, probe, passSpan, n, wallS, a.cores, out,
            Map("exec.gc_s" -> gcS, "trace.run_s" -> wallS))
          // Bench's two host-drift probes, after the pass (before medallion's
          // cold pass they would time JIT warm-up and warm the pass up), and
          // only where they are reported: they cost ~4 s a pass on 4 cores.
          val calShuffleS = timed(spark.range(8000000L).repartition(8).selectExpr("sum(id)").collect())
          val calCpuS = timed(spark.range(0L, 16000000L, 1L, 1)
            .selectExpr("bit_xor(xxhash64(id))").collect())
          (l ++ Map("host.calib_shuffle_s" -> calShuffleS, "host.calib_cpu_s" -> calCpuS), r)
        }
      passes += PassRecord(n, wallS, out.ops, heapMb, layer, rows)
      System.err.println(f"[perfbench] pass $n wall=$wallS%.3f s heap=$heapMb%.1f MB ops=" +
        out.ops.map(o => f"${o.name}:${o.seconds}%.3f").mkString(","))
    }
    // Janino compiles over the whole run: set-up pays for most of them.
    val codegen = Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9)

    val failed = attempted.filterNot(_.ok)
    failed.foreach(o => System.err.println(s"[perfbench] FAILED ${o.name}: ${o.note}"))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val latencies = passes.toSeq.flatMap(_.ops.filter(_.ran).map(_.seconds))
        Seq(
          ("setup_s", setupS, "s"),
          ("run_s", Stats.median(passes.toSeq.map(_.wallS)), "s"),
          ("op_p50_s", Stats.median(latencies), "s"),
          ("heap_live_mb", Stats.median(passes.toSeq.map(_.heapMb)), "MB"))
      } else {
        val layer = Layers.PerLayer.map { case (name, unit) =>
          (name, codegen.getOrElse(name,
            passes.map(_.layer.getOrElse(name, 0.0)).sum / passes.size), unit)
        }
        val file = TraceFile.write(a, tracer, passes.toSeq, setupS, codegen,
          attempted.size, failed.size)
        System.err.println(s"[perfbench] trace written to $file")
        layer
      }
    spark.stop()
    System.err.println(f"[perfbench] stopped at ${sinceStartS()}%.3f s")
    val correct = failed.isEmpty
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${attempted.size}, "failed": ${failed.size}, "metrics": {$body}}""")
    correct
  }

  def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full GCs, once Spark's ContextCleaner has had time to
    * drop the blocks and broadcasts that the collected references held.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
