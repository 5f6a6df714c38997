package graft.tools

import java.nio.file.Files

/** Like-for-like local measure for the reference's ONLY wall-clock
  * artifact: the bronze notebook's ~1h25m for 4,482,432 bronze rows
  * from 913 station files (/root/reference/notebooks/logs/02.output:45,
  * :60 — Databricks Spark Connect, per-file scan + 913-way union).
  *
  * The NOAA tarball is unavailable offline, so this generates a
  * synthetic 913-file .dly fixture at MATCHED shape (913 files, 2015–
  * 2025 months, 5 elements, all 31 slots populated) and row count
  * (~4.48M post-explode), then times the engine's own bronze build —
  * ONE multi-path text scan (etl/Bronze.scala:37-48), the same parse/
  * explode/cull semantics, partitioned parquet write like the
  * reference's bronze table. Hardware differs from the blessed run
  * (unspecified Databricks cluster vs local[n]); the number exists so
  * BASELINE.md has a defensible non-zero denominator for the
  * "matches-or-beats single-node throughput" gate, not as a cluster
  * claim.
  *
  * Round 11 extends the measurement through SILVER (clean → pivot →
  * station-enrich → quality score, partitioned write) and GOLD (the 4
  * serving tables off a cached silver) on the same fixture, with a
  * matched-shape stations file for the enrichment join. The reference
  * logs publish NO runtime marker for notebooks 03/04 (grep "runtime"
  * over notebooks/logs/ hits only 02.output:45), so the silver/gold
  * numbers stand as this engine's absolute stage times at the
  * reference's exact workload shape — the denominator a user rerunning
  * the reference notebooks can compare against — not as a ratio claim.
  *
  * Usage: sbt -batch "runMain graft.tools.BronzeBaseline"
  * Prints one JSON line: files, lines, rows, gen_sec, build_sec,
  * silver_rows, silver_sec, gold_rows, gold_sec.
  */
object BronzeBaseline {

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()

    val base = Files.createTempDirectory("graft_bronze_baseline_")
    val dlyDir = base.resolve("dly")
    Files.createDirectories(dlyDir)

    // 913 files x 161 month-lines x ~30.44 valid days ~= 4.47M rows —
    // the reference's 4,482,432 within ~0.3%. Elements/months cycle
    // deterministically; values are small positive ints (never -9999),
    // so no slot is culled except invalid calendar days (Feb 30 etc.),
    // exactly the reference's explode semantics.
    val elements = Array("TMAX", "TMIN", "PRCP", "SNOW", "SNWD")
    val linesPerFile = 161
    val t0 = System.nanoTime()
    var totalLines = 0L
    (0 until 913).foreach { f =>
      val id = f"USC00GA$f%04d"
      val sb = new StringBuilder(linesPerFile * 270)
      (0 until linesPerFile).foreach { i =>
        val year = 2015 + (i / 12) % 11
        val month = i % 12 + 1
        val element = elements(i % 5)
        sb.append(f"$id%-11s$year%04d$month%02d$element%-4s")
        (1 to 31).foreach { d =>
          val v = (f + i + d) % 2000 + 1
          sb.append(f"$v%5d   ")
        }
        sb.append('\n')
        totalLines += 1
      }
      Files.writeString(dlyDir.resolve(s"$id.dly"), sb.toString)
    }
    val genSec = (System.nanoTime() - t0) / 1e9

    val pathSeq = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dlyDir)
      try s.iterator().asScala.map(_.toString).toSeq
      finally s.close()
    }
    val outDir = base.resolve("bronze").toString

    val t1 = System.nanoTime()
    val bronze = graft.etl.Bronze.readDly(spark, pathSeq,
      startYear = Some(2015), endYear = Some(2025))
    bronze.write.mode("overwrite").partitionBy("year", "month").parquet(outDir)
    val buildSec = (System.nanoTime() - t1) / 1e9
    val rows = spark.read.parquet(outDir).count()

    // matched-shape ghcnd-stations.txt: one fixed-width line per station
    // id, fields at the slices Silver.parseStations reads (lat 13..20,
    // lon 22..30, elev 32..37, state 39..40, name 42..71)
    val stFile = base.resolve("stations.txt")
    val stSb = new StringBuilder(913 * 86)
    (0 until 913).foreach { f =>
      val id = f"USC00GA$f%04d"
      val lat = 30.0 + (f % 500) / 100.0
      val lon = -85.0 + (f % 300) / 100.0
      val elev = (f % 900).toDouble
      // fields land exactly on Silver.parseStations' 1-based slices:
      // ID 1-11, lat 13-20, lon 22-30, elev 32-37, state 39-40, name
      // 42-71; padded to 84 chars so the COUNTRY slice [82,2] exists
      // (blank -- the reference's quirk parses it as empty string)
      val line = f"$id%-11s $lat%8.4f $lon%9.4f $elev%6.1f GA STATION $f%04d"
      stSb.append(line.padTo(84, ' ')).append('\n')
      ()
    }
    Files.writeString(stFile, stSb.toString)

    val silverDir = base.resolve("silver").toString
    val t2 = System.nanoTime()
    val silver = graft.etl.Silver.silver(
      spark.read.parquet(outDir),
      spark.read.text(stFile.toString))
    silver.write.mode("overwrite").partitionBy("year", "month")
      .parquet(silverDir)
    val silverSec = (System.nanoTime() - t2) / 1e9
    val silverRows = spark.read.parquet(silverDir).count()

    val goldDir = base.resolve("gold")
    val t3 = System.nanoTime()
    val silverIn = spark.read.parquet(silverDir).cache()
    val goldTables = Map(
      "monthly_climate" -> graft.etl.Gold.monthlyClimate(silverIn),
      "yearly_climate" -> graft.etl.Gold.yearlyClimate(silverIn),
      "climate_summaries" -> graft.etl.Gold.climateSummaries(silverIn),
      "ml_features" -> graft.etl.Gold.mlFeatures(silverIn))
    goldTables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(goldDir.resolve(name).toString)
    }
    silverIn.unpersist()
    val goldSec = (System.nanoTime() - t3) / 1e9
    val goldRows = goldTables.keys.map(n =>
      spark.read.parquet(goldDir.resolve(n).toString).count()).sum

    println(s"""{"metric":"bronze_build","files":913,"lines":$totalLines,""" +
      s""""rows":$rows,"gen_sec":${math.round(genSec * 100) / 100.0},""" +
      s""""build_sec":${math.round(buildSec * 100) / 100.0},""" +
      s""""silver_rows":$silverRows,""" +
      s""""silver_sec":${math.round(silverSec * 100) / 100.0},""" +
      s""""gold_rows":$goldRows,""" +
      s""""gold_sec":${math.round(goldSec * 100) / 100.0},""" +
      s""""reference_rows":4482432,"reference_sec":5100}""")
    // best-effort cleanup (tens of MB under /tmp)
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).forEach(c => rm(c))
      Files.deleteIfExists(p)
      ()
    }
    rm(base)
    spark.stop()
  }
}
