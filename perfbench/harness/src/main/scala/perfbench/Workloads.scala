package perfbench

import java.nio.file.{Files, Path}

import graft.GhcnPipeline
import graft.core.{GhcnConfig, StoragePaths}
import graft.ingest.GhcnIngest
import graft.operators.CacheScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One op (a query execution or a pipeline stage) of a pass. `ran` is false
  * for a stage skipped because an earlier stage failed; its time is not a
  * latency sample.
  */
final case class OpResult(name: String, span: Long, seconds: Double,
                          ok: Boolean, ran: Boolean, note: String)

final case class PassOutcome(ops: Seq[OpResult], extras: Map[String, Double])

trait Workload {
  /** Input set-up, before the warm-up pass. */
  def prepare(): Unit
  /** The timed part of a pass. */
  def pass(pass: Int, passSpan: Long): PassOutcome
  /** Untimed output checks and clean-up after a pass. */
  def verify(pass: Int, out: PassOutcome): PassOutcome = out
}

/** Order-insensitive output checksum: bit_xor of xxhash64 over every output
  * column, plus the row count, in one aggregate.
  */
object Checksum {
  def of(df: DataFrame, roundDoubles: Boolean = false): (Long, Long) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (roundDoubles && f.dataType == DoubleType) round(c, 6) else c
    }
    val r = df.select(xxhash64(cols: _*).as("__h"))
      .agg(expr("bit_xor(__h)"), count(lit(1))).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }
}

/** Expected checksums, one `name<TAB>hash<TAB>rows` line each. */
object Expected {
  def load(file: Path): Map[String, (Long, Long)] =
    Files.readAllLines(file).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, hash, rows) = l.split("\t")
        name -> ((hash.toLong, rows.toLong))
      }.toMap
}

/** Shared driver-thread plumbing: spans and the job-attribution property. */
final class OpRunner(spark: SparkSession, tracer: Tracer) {
  def inSpan[T](parent: Long, pass: Int, name: String, label: String)(f: Long => T): T =
    tracer.span(parent, pass, name, label) { id =>
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Probe.SpanProperty)
      sc.setLocalProperty(Probe.SpanProperty, id.toString)
      try f(id) finally sc.setLocalProperty(Probe.SpanProperty, outer)
    }
}

/** Closed loop over a fixed list of `SparkEntry.queries`: each op builds the
  * query's DataFrame and runs the checksum action on it. The seed sets the
  * query order of each pass.
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, dataDir: String,
                          names: Seq[String], expected: Map[String, (Long, Long)],
                          seed: Long) extends Workload {
  private val run = new OpRunner(spark, tracer)
  private val fns = graft.SparkEntry.queries

  def prepare(): Unit = {
    names.foreach(n => require(fns.contains(n), s"unknown query $n"))
    Files.list(java.nio.file.Paths.get(dataDir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => spark.read.parquet(p.toString).schema)
  }

  def pass(pass: Int, passSpan: Long): PassOutcome = {
    val order = new scala.util.Random(seed * 7919L + pass).shuffle(names)
    PassOutcome(order.map(runQuery(pass, passSpan, _)), Map.empty)
  }

  private def runQuery(pass: Int, passSpan: Long, name: String): OpResult = {
    var spanId = 0L
    val t0 = System.nanoTime()
    val (ok, note) = run.inSpan(passSpan, pass, "query", name) { id =>
      spanId = id
      try CacheScope.scoped {
        val df = run.inSpan(id, pass, "queries.build", name)(_ => fns(name)(spark, dataDir))
        val got = run.inSpan(id, pass, "exec", name)(_ => Checksum.of(df))
        expected.get(name) match {
          case Some(want) if want == got => (true, s"${got._1}\t${got._2}")
          case want => (false, s"checksum ${got._1}\t${got._2} expected ${want.getOrElse("none")}")
        }
      } catch { case NonFatal(t) => (false, s"threw $t") }
    }
    OpResult(name, spanId, (System.nanoTime() - t0) / 1e9, ok, ran = true, note)
  }
}

/** The GHCN medallion pipeline end to end on the seeded fixture: ingest ->
  * bronze -> silver -> gold -> validation report, each pass in a fresh
  * directory that is deleted once its size has been read.
  */
final class MedallionWorkload(spark: SparkSession, tracer: Tracer, workDir: Path,
                              seed: Long, goldExpected: Map[String, (Long, Long)])
    extends Workload {
  private val run = new OpRunner(spark, tracer)
  private var tar: Path = _
  private var stationsFile: Path = _
  private var counts: FixtureCounts = _

  def prepare(): Unit = {
    val (t, s, c) = DlyFixture.write(seed, workDir.resolve("input"))
    tar = t; stationsFile = s; counts = c
  }

  def pass(pass: Int, passSpan: Long): PassOutcome = {
    val dir = workDir.resolve(s"pass-$pass")
    val cfg = GhcnConfig(storage = StoragePaths(
      basePath = dir.toString, rawPath = dir.resolve("raw").toString,
      stationsPath = stationsFile.getParent.toString,
      bronzePath = dir.resolve("bronze").toString,
      silverPath = dir.resolve("silver").toString,
      goldPath = dir.resolve("gold").toString))
    val pipeline = new GhcnPipeline(spark, cfg)
    var files: Seq[String] = Nil
    var report: Map[String, Any] = Map.empty
    val ops = Seq.newBuilder[OpResult]
    var failed = false
    def stage(name: String)(f: => Unit): Unit =
      if (failed) ops += OpResult(name, 0L, 0.0, ok = false, ran = false, "skipped")
      else {
        var spanId = 0L
        val t0 = System.nanoTime()
        val err = run.inSpan(passSpan, pass, name, "medallion") { id =>
          spanId = id
          try { f; "" } catch { case NonFatal(t) => s"threw $t" }
        }
        failed = err.nonEmpty
        ops += OpResult(name, spanId, (System.nanoTime() - t0) / 1e9, !failed, ran = true, err)
      }
    stage("ingest") {
      val ids = GhcnIngest.stationIdsForState(spark, stationsFile.toString, cfg.targetState)
      files = GhcnIngest.extractStationFiles(tar.toString, cfg.storage.rawPath, ids,
        cfg.startYear, cfg.endYear)
    }
    stage("etl.bronze")(pipeline.runBronze(files))
    stage("etl.silver")(pipeline.runSilver(stationsFile.toString))
    stage("etl.gold")(pipeline.runGold())
    stage("etl.validate") { report = pipeline.validationReport() }

    lastPass = (cfg, files, report)
    PassOutcome(ops.result(), Map.empty)
  }

  private var lastPass: (GhcnConfig, Seq[String], Map[String, Any]) = _

  override def verify(pass: Int, out: PassOutcome): PassOutcome = {
    val (cfg, files, report) = lastPass
    try {
      if (out.ops.exists(!_.ok)) out
      else {
        val (checked, extras) = check(out.ops, cfg, files, report)
        PassOutcome(checked, extras)
      }
    } finally deleteTree(java.nio.file.Paths.get(cfg.storage.basePath))
  }

  /** Untimed output checks; a mismatch fails the stage that produced it. */
  private def check(ops: Seq[OpResult], cfg: GhcnConfig, files: Seq[String],
                    report: Map[String, Any]): (Seq[OpResult], Map[String, Double]) = {
    def section(k: String) = report(k).asInstanceOf[Map[String, Any]]
    val dq = section("data_quality")
    val schemas = section("schema_validation")
    val lineage = section("lineage")
    val keptLines = files.map(f => Files.readAllLines(java.nio.file.Paths.get(f)).size.toLong).sum
    val gold = Seq("monthly_climate", "yearly_climate", "climate_summaries", "ml_features")
      .map(t => t -> spark.read.parquet(s"${cfg.storage.goldPath}/$t")).toMap
    val goldSums = gold.map { case (t, df) => t -> Checksum.of(df, roundDoubles = true) }
    val mismatches: Map[String, Seq[String]] = Map(
      "ingest" -> Seq(
        eq("files", files.size.toLong, counts.gaFiles.toLong),
        eq("kept lines", keptLines, counts.keptLines)),
      "etl.bronze" -> Seq(
        eq("bronze_records", dq("bronze_records"), counts.bronzeRows),
        eq("bronze_stations", dq("bronze_stations"), counts.gaFiles.toLong),
        eq("bronze_schema", schemas("bronze_schema"), true)),
      "etl.silver" -> Seq(
        eq("silver_records", dq("silver_records"), counts.silverRows),
        eq("silver_stations", dq("silver_stations"), counts.gaFiles.toLong),
        eq("stations lost", lineage("stations_lost_bronze_to_silver"), 0L),
        eq("silver_schema", schemas("silver_schema"), true)),
      "etl.gold" -> (Seq(
        eq("monthly_climate rows", goldSums("monthly_climate")._2, counts.monthlyRows),
        eq("yearly_climate rows", goldSums("yearly_climate")._2, counts.yearlyRows),
        eq("climate_summaries rows", goldSums("climate_summaries")._2, counts.summaryRows),
        eq("ml_features rows", goldSums("ml_features")._2, counts.silverRows)) ++
        (if (seed != MedallionWorkload.DefaultSeed) Nil
         else goldSums.toSeq.map { case (t, got) =>
           eq(s"gold/$t checksum", got, goldExpected.getOrElse(s"gold/$t", "none"))
         })),
      "etl.validate" -> Seq(
        eq("monthly_records", dq("monthly_records"), counts.monthlyRows),
        eq("expected_silver_records", lineage("expected_silver_records"), counts.bronzeDates))
    ).map { case (k, v) => k -> v.flatten }
    val checked = ops.map { o =>
      val bad = mismatches.getOrElse(o.name, Nil)
      if (bad.isEmpty) o else o.copy(ok = false, note = bad.mkString("; "))
    }
    val layerDirs = Seq(cfg.storage.bronzePath, cfg.storage.silverPath, cfg.storage.goldPath)
      .map(java.nio.file.Paths.get(_))
    val dataFiles = layerDirs.flatMap(walkFiles).filter(_.getFileName.toString.startsWith("part-"))
    val extras = Map(
      "io.stored_mb" -> layerDirs.flatMap(walkFiles).map(Files.size).sum / 1e6,
      "io.files_written" -> dataFiles.size.toDouble,
      "ingest.lines_kept_frac" -> keptLines.toDouble / counts.tarLines,
      "etl.bronze.rows_per_slot" -> counts.bronzeRows.toDouble / (31.0 * keptLines))
    (checked, extras)
  }

  private def eq(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  private def walkFiles(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }
}

object MedallionWorkload {
  /** The seed whose gold-table checksums are recorded in expected.tsv. */
  val DefaultSeed = 1L
}
