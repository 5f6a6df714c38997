package graft.ingest

import java.io.{BufferedReader, FileReader, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.GZIPInputStream
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Using

/** Driver-side ingest: HTTPS download, integrity check, tar-member
  * extraction with station filtering, year-range line filter.
  *
  * Reference: src/ingest/data_downloader.py + src/ingest/file_extractor.py.
  * None of this is a Spark operator — it stages files for the bronze scan —
  * so it is isolated here and bypassable in tests (fixtures pre-staged).
  */
object GhcnIngest {

  /** Stream url → targetDir/filename; skip-if-exists cache; delete the
    * partial file on failure (data_downloader.py:17-59).
    */
  def downloadFile(url: String, targetDir: String, filename: String,
                   force: Boolean = false): Path = {
    val dir = Paths.get(targetDir)
    Files.createDirectories(dir)
    val target = dir.resolve(filename)
    if (Files.exists(target) && !force) return target
    // Download to a temp file and move atomically, so a failed re-download
    // (force=true) never destroys a pre-existing good cached file, and no
    // reader ever observes a partial file.
    val tmp = Files.createTempFile(dir, s".$filename.", ".part")
    try {
      val client = HttpClient.newBuilder()
        .followRedirects(HttpClient.Redirect.NORMAL).build()
      val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
      Using.resource(resp.body()) { in =>
        if (resp.statusCode() / 100 != 2)
          throw new RuntimeException(s"HTTP ${resp.statusCode()} for $url")
        Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
      }
      try Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
      }
      target
    } finally {
      Files.deleteIfExists(tmp)
    }
  }

  /** Size > 0; .txt first line non-empty; .tar.gz opens and lists ≥1 entry
    * (data_downloader.py:61-95).
    */
  def verifyFileIntegrity(path: String): Boolean = {
    val p = Paths.get(path)
    if (!Files.exists(p) || Files.size(p) == 0) return false
    try {
      if (path.endsWith(".txt")) {
        Using.resource(new BufferedReader(new FileReader(path))) { r =>
          val line = r.readLine()
          line != null && line.trim.nonEmpty
        }
      } else if (path.endsWith(".tar.gz")) {
        Using.resource(openTar(Files.newInputStream(p))) { tar =>
          tar.getNextEntry != null
        }
      } else true
    } catch { case _: Throwable => false }
  }

  private def openTar(in: InputStream): TarArchiveInputStream =
    new TarArchiveInputStream(new GZIPInputStream(in))

  /** Spark-side stations parse for the target-state ID set — replaces the
    * reference's driver-side line loop (file_extractor.py:16-36) with the
    * silver parse itself ([[graft.etl.Silver.parseStations]]), so the
    * fixed-width layout is defined once.
    */
  def stationIdsForState(spark: SparkSession, stationsFile: String,
                         targetState: String): Set[String] =
    graft.etl.Silver.parseStations(spark.read.text(stationsFile))
      .filter(col("STATE") === targetState)
      .select("ID").distinct()
      .collect().map(_.getString(0)).toSet

  /** Extract .dly members whose basename is in stationIds, then keep only
    * lines whose year ∈ [startYear, endYear]; drop files left empty
    * (file_extractor.py:38-106). Single pass over the tar stream.
    */
  def extractStationFiles(tarGzPath: String, outDir: String,
                          stationIds: Set[String],
                          startYear: Int, endYear: Int): Seq[String] = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val extracted = mutable.ArrayBuffer.empty[String]
    Using.resource(openTar(Files.newInputStream(Paths.get(tarGzPath)))) { tar =>
      var entry: TarArchiveEntry = tar.getNextEntry
      while (entry != null) {
        val base = Paths.get(entry.getName).getFileName.toString
        if (!entry.isDirectory && base.endsWith(".dly") &&
            stationIds.contains(base.stripSuffix(".dly"))) {
          val lines = scala.io.Source.fromInputStream(tar, "UTF-8")
            .getLines()
            .filter { line =>
              line.trim.nonEmpty && {
                val year = line.slice(11, 15)
                year.forall(_.isDigit) && {
                  val y = year.toInt; y >= startYear && y <= endYear
                }
              }
            }
            .toVector
          if (lines.nonEmpty) {
            val target = out.resolve(base)
            Files.write(target, lines.mkString("\n").getBytes("UTF-8"))
            extracted += target.toString
          }
        }
        entry = tar.getNextEntry
      }
    }
    extracted.toSeq
  }

  /** Record count + first/last year-month of a .dly file
    * (file_extractor.py:108-136). Diagnostic only.
    */
  def fileStatistics(path: String): Map[String, String] = {
    val lines = Files.readAllLines(Paths.get(path))
    if (lines.isEmpty) return Map("record_count" -> "0")
    def ym(line: String) = s"${line.slice(11, 15)}-${line.slice(15, 17)}"
    Map(
      "record_count" -> lines.size.toString,
      "start" -> ym(lines.get(0)),
      "end" -> ym(lines.get(lines.size - 1)))
  }
}
