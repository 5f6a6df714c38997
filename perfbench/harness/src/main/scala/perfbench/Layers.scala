package perfbench

/** Per-layer numbers of one traced pass, from the benchmark's spans and the
  * probe's Spark counters. MB are 10^6 bytes.
  */
object Layers {

  val Stages = Seq("ingest", "etl.bronze", "etl.silver", "etl.gold", "etl.validate")

  /** The per-layer metrics of the result line, with units. Every one is
    * printed on every workload; a layer that does not run on a workload
    * reports 0 there. Stage and build times go in as shares of the pass,
    * so no time reads 0; the times themselves are in the trace file.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "host.calib_shuffle_s" -> "s", "host.calib_cpu_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_s" -> "s", "spark.sched_delay_s" -> "s",
    "exec.cpu_s" -> "s", "exec.run_s" -> "s", "exec.core_busy_frac" -> "ratio",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_s" -> "s", "exec.peak_task_mem_mb" -> "MB",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "io.read_mb" -> "MB", "io.write_mb" -> "MB", "io.files_written" -> "count",
    "io.records_written" -> "count", "io.stored_mb" -> "MB",
    "ingest.share" -> "ratio", "ingest.lines_kept_frac" -> "ratio") ++
    Stages.tail.flatMap(s => Seq(s"$s.share" -> "ratio", s"$s.jobs" -> "count",
      s"$s.shuffle_write_mb" -> "MB")) ++ Seq(
    "etl.bronze.rows_per_slot" -> "ratio",
    "queries.build_share" -> "ratio", "queries.build_jobs" -> "count",
    "trace.run_s" -> "s")

  private val PlanPhases = Seq("analysis", "optimization", "planning")

  /** Adds the pass's job and planning-phase spans to `tracer`; returns the
    * pass's layer map and one row per op.
    */
  def ofPass(tracer: Tracer, probe: Probe, passSpan: Long, pass: Int, wallS: Double,
             cores: Int, out: PassOutcome, measured: Map[String, Double])
      : (Map[String, Double], Seq[Map[String, Any]]) = {
    val bench = tracer.subtree(passSpan)
    val passS = bench.find(_.id == passSpan).get
    val benchIds = bench.map(_.id).toSet
    val jobs = probe.jobRecords.filter(j => benchIds(j.span))
    val jobSpans = jobs.map { j =>
      val s = Span(tracer.newId(), j.span, pass, "job", s"job ${j.id}",
        j.startMs * 1000000L, j.endMs * 1000000L)
      tracer.add(s)
      j -> s
    }
    // A planning phase belongs to the innermost benchmark span around it:
    // the driver thread makes one call at a time.
    val phaseSpans = probe.phases.flatMap { case (phase, startMs, endMs) =>
      val mid = (startMs + endMs) * 500000L
      val owner = bench.filter(s => s.startNs <= mid && mid <= s.endNs).sortBy(_.durNs).headOption
      owner.filter(_ => PlanPhases.contains(phase)).map { o =>
        val s = Span(tracer.newId(), o.id, pass, s"plans.$phase", o.label,
          startMs * 1000000L, endMs * 1000000L)
        tracer.add(s)
        s
      }
    }
    val below: Map[Long, Set[Long]] = {
      val kids = bench.groupBy(_.parent)
      def ids(id: Long): Set[Long] = kids.getOrElse(id, Nil).flatMap(s => ids(s.id)).toSet + id
      bench.map(s => s.id -> ids(s.id)).toMap
    }
    def totalsUnder(id: Long): TaskTotals = {
      val t = new TaskTotals
      jobs.filter(j => below(id)(j.span)).foreach(j => t += j.totals)
      t
    }
    val all = totalsUnder(passSpan)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m ++= measured
    m("spark.jobs") = jobs.size
    m("spark.stages") = jobs.map(_.stagesRun).sum
    m("spark.tasks") = all.tasks
    m("spark.driver_only_s") =
      Spans.selfNs(passS.startNs, passS.endNs, jobSpans.map(js => (js._2.startNs, js._2.endNs))) / 1e9
    m("spark.sched_delay_s") = all.schedDelayMs / 1e3
    m("exec.cpu_s") = all.cpuNs / 1e9
    m("exec.run_s") = all.runMs / 1e3
    m("exec.core_busy_frac") = all.runMs / 1e3 / (wallS * cores)
    m("exec.shuffle_read_mb") = all.shuffleReadBytes / 1e6
    m("exec.shuffle_write_mb") = all.shuffleWriteBytes / 1e6
    m("exec.spill_mb") = all.spillBytes / 1e6
    m("exec.peak_task_mem_mb") = all.peakExecMem / 1e6
    PlanPhases.foreach { p =>
      m(s"plans.${p}_s") = phaseSpans.filter(_.name == s"plans.$p").map(_.durNs).sum / 1e9
    }
    m("io.read_mb") = all.inputBytes / 1e6
    m("io.write_mb") = all.outputBytes / 1e6
    m("io.records_written") = all.outputRecords
    m ++= out.extras
    Stages.foreach { st =>
      bench.find(s => s.parent == passSpan && s.name == st).foreach { s =>
        val t = totalsUnder(s.id)
        m(s"$st.s") = s.durNs / 1e9
        m(s"$st.share") = s.durNs / 1e9 / wallS
        m(s"$st.jobs") = jobs.count(j => below(s.id)(j.span))
        m(s"$st.exec_cpu_s") = t.cpuNs / 1e9
        m(s"$st.shuffle_write_mb") = t.shuffleWriteBytes / 1e6
      }
    }
    val builds = bench.filter(_.name == "queries.build")
    if (builds.nonEmpty) {
      val buildIds = builds.map(_.id).toSet
      m("queries.build_s") = builds.map(_.durNs).sum / 1e9
      m("queries.build_share") = builds.map(_.durNs).sum / 1e9 / wallS
      m("queries.build_jobs") = jobs.count(j => buildIds(j.span))
    }

    val rows = out.ops.filter(_.ran).flatMap { op =>
      bench.find(_.id == op.span).map { s =>
        val under = below(s.id)
        val opJobs = jobSpans.filter(js => under(js._1.span))
        val opPhases = phaseSpans.filter(p => under(p.parent))
        val t = totalsUnder(s.id)
        def child(name: String) = bench.find(c => c.parent == s.id && c.name == name)
          .map(_.durNs / 1e9).getOrElse(0.0)
        Map[String, Any](
          "pass" -> pass, "op" -> op.name, "wall_s" -> s.durNs / 1e9,
          "build_s" -> child("queries.build"), "exec_s" -> child("exec"),
          "analysis_s" -> opPhases.filter(_.name == "plans.analysis").map(_.durNs).sum / 1e9,
          "optimization_s" -> opPhases.filter(_.name == "plans.optimization").map(_.durNs).sum / 1e9,
          "planning_s" -> opPhases.filter(_.name == "plans.planning").map(_.durNs).sum / 1e9,
          "self_s" -> Spans.selfNs(s.startNs, s.endNs,
            (opJobs.map(_._2) ++ opPhases).map(c => (c.startNs, c.endNs))) / 1e9,
          "jobs" -> opJobs.size, "stages" -> opJobs.map(_._1.stagesRun).sum,
          "tasks" -> t.tasks, "exec_cpu_s" -> t.cpuNs / 1e9,
          "shuffle_read_mb" -> t.shuffleReadBytes / 1e6,
          "shuffle_write_mb" -> t.shuffleWriteBytes / 1e6,
          "ok" -> op.ok, "note" -> op.note)
      }
    }
    (m.toMap, rows)
  }
}
