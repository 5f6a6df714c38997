package perfbench

import java.nio.file.{Files, Path}

/** Writes a traced run's spans, per-op rows and per-pass layer numbers as
  * one JSON file under the run's output directory.
  */
object TraceFile {

  def write(a: Main.Args, tracer: Tracer, passes: Seq[Main.PassRecord], setupS: Double,
            codegen: Map[String, Double], attempted: Int, failed: Int): Path = {
    val keys = passes.flatMap(_.layer.keys).distinct.sorted
    val layerMean = keys.map(k => k -> passes.map(_.layer.getOrElse(k, 0.0)).sum / passes.size)
    val latencies = passes.flatMap(_.rows.map(_("wall_s").asInstanceOf[Double]))
    val tail =
      if (Stats.reportable(latencies.size, 0.9)) Stats.percentile(latencies, 0.9) else null
    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    val summary = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "setup_s" -> setupS, "attempted" -> attempted, "failed" -> failed,
      "run_s" -> passes.map(_.wallS),
      "op_samples" -> latencies.size,
      "op_p90_s" -> tail,
      "op_p90_samples_beyond" -> Stats.samplesBeyond(latencies.size, 0.9),
      "layers" -> (layerMean.toMap ++ codegen))
    val doc = Map(
      "summary" -> summary,
      "passes" -> passes.map(p => Map("pass" -> p.n, "wall_s" -> p.wallS,
        "heap_live_mb" -> p.heapMb, "layers" -> p.layer)),
      "ops" -> passes.flatMap(_.rows),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
        "name" -> s.name, "label" -> s.label, "start_ns" -> s.startNs, "dur_s" -> s.durNs / 1e9,
        "self_s" -> Spans.selfNs(s.startNs, s.endNs,
          kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))) / 1e9)))
    Files.createDirectories(a.out)
    val file = a.out.resolve(s"trace-${a.workload}-seed${a.seed}-${System.currentTimeMillis()}.json")
    Files.writeString(file, json(doc) + "\n")
    System.err.println(s"[perfbench] trace summary ${json(summary)}")
    file
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
