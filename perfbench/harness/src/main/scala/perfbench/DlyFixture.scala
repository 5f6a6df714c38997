package perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}

import scala.collection.mutable

/** Row counts the medallion layers must have, derived while the fixture is
  * generated (never read back from Spark output).
  *
  * @param tarLines     lines across every member of the tarball
  * @param keptLines    GA lines with a year in [FirstYear, LastYear]
  * @param gaFiles      GA members with at least one kept line
  * @param bronzeRows   kept day slots that hold a value and a real date
  * @param bronzeDates  distinct (station, date) in bronze, any element
  * @param silverRows   distinct (station, date) with a required element
  * @param monthlyRows  distinct (station, year, month) in silver
  * @param yearlyRows   distinct (station, year) in silver
  * @param summaryRows  distinct (station, calendar month) in silver
  */
final case class FixtureCounts(
    tarLines: Long,
    keptLines: Long,
    gaFiles: Int,
    bronzeRows: Long,
    bronzeDates: Long,
    silverRows: Long,
    monthlyRows: Long,
    yearlyRows: Long,
    summaryRows: Long)

/** Seeded synthetic GHCN-Daily input: a `ghcnd_all.tar.gz` of `.dly`
  * members plus the matching `ghcnd-stations.txt`.
  *
  * Shape (see perfbench/README.md): 913 GA members like the reference run,
  * plus members of neighbouring states and pre-2015 lines that ingest must
  * drop; per-station history lengths and element sets vary, with elements
  * outside the required five; ~10% of real day slots hold -9999, some
  * invalid calendar slots (Feb 30) hold values that bronze must cull, and a
  * few temperatures and precipitation totals fall outside silver's bounds.
  *
  * The seed drives every draw. Every GA station reports PRCP in its first
  * kept month, so no station is lost between bronze and silver.
  */
object DlyFixture {
  val GaStations = 913
  val OtherStations = 287
  val FirstYear = 2015
  val LastYear = 2025
  val Required: Seq[String] = Seq("TMAX", "TMIN", "PRCP", "SNOW", "SNWD")
  private val OtherStates = Array("AL", "FL", "SC", "NC", "TN")
  /** Oldest year a history may start in: lines before FirstYear exercise
    * ingest's year filter.
    */
  private val OldestYear = 2011
  private val MonthsPerStation = (3, 12)

  def stationId(index: Int): String =
    if (index < GaStations) f"US1GA$index%06d"
    else f"US1${OtherStates(index % OtherStates.length)}$index%06d"

  def state(index: Int): String = stationId(index).substring(3, 5)

  def daysInMonth(year: Int, month: Int): Int =
    java.time.YearMonth.of(year, month).lengthOfMonth()

  /** One generated `.dly` line: header fields and the 31 slot values
    * (-9999 = missing).
    */
  final case class DlyLine(id: String, year: Int, month: Int, element: String,
                           values: Array[Int]) {
    def text: String = {
      val sb = new java.lang.StringBuilder(269)
      sb.append(f"$id%-11s$year%04d$month%02d$element%-4s")
      // MFLAG and QFLAG blank; SFLAG 'N' on reported values, as in GHCN.
      values.foreach(v => sb.append(f"$v%5d").append(if (v == -9999) "   " else "  N"))
      sb.toString
    }
  }

  /** Every line of one station, oldest first, drawn from its own stream so
    * stations are independent of generation order.
    */
  def stationLines(seed: Long, index: Int): Seq[DlyLine] = {
    val rng = new SplittableRandom(seed * 1000003L + index)
    val id = stationId(index)
    val months = MonthsPerStation._1 +
      rng.nextInt(MonthsPerStation._2 - MonthsPerStation._1 + 1)
    // Histories end by December of LastYear; some begin before FirstYear.
    val lastStart = (LastYear - OldestYear + 1) * 12 - months
    val start = rng.nextInt(lastStart + 1)
    val elements = mutable.ArrayBuffer("PRCP")
    if (rng.nextDouble() < 0.45) elements ++= Seq("TMAX", "TMIN")
    if (rng.nextDouble() < 0.30) elements += "SNOW"
    if (rng.nextDouble() < 0.25) elements += "SNWD"
    if (rng.nextDouble() < 0.15) elements += "TAVG"
    if (rng.nextDouble() < 0.10) elements += "WT01"
    // A history that starts before FirstYear must still reach it.
    val firstKept = (FirstYear - OldestYear) * 12
    val s = if (start + months <= firstKept) firstKept - months / 2 else start
    for {
      m <- s until s + months
      year = OldestYear + m / 12
      month = m % 12 + 1
      element <- elements.toSeq
    } yield {
      val dim = daysInMonth(year, month)
      val forcePresent = m == math.max(s, firstKept) && element == "PRCP"
      val culledValues = rng.nextDouble() < 0.05
      val values = Array.tabulate(31) { d =>
        val day = d + 1
        if (day > dim) { if (culledValues) value(rng, element) else -9999 }
        else if (forcePresent && day == 1) value(rng, element)
        else if (rng.nextDouble() < 0.10) -9999
        else value(rng, element)
      }
      DlyLine(id, year, month, element, values)
    }
  }

  private def value(rng: SplittableRandom, element: String): Int = element match {
    case "TMAX" => if (rng.nextDouble() < 0.003) 555 else 150 + rng.nextInt(220)
    case "TMIN" => if (rng.nextDouble() < 0.003) -555 else -60 + rng.nextInt(250)
    case "PRCP" =>
      if (rng.nextDouble() < 0.002) 2500
      else if (rng.nextDouble() < 0.6) 0 else rng.nextInt(600)
    case "SNOW" | "SNWD" => if (rng.nextDouble() < 0.9) 0 else rng.nextInt(150)
    case "TAVG" => 50 + rng.nextInt(250)
    case _ => 1
  }

  /** A stations-file line on the fixed-width slices the silver parse reads:
    * ID 1-11, LATITUDE 13-20, LONGITUDE 22-30, ELEVATION 32-37, STATE
    * 39-40, NAME 42-71, padded past the COUNTRY slice at 82-83.
    */
  def stationsLine(seed: Long, index: Int): String = {
    val rng = new SplittableRandom(~(seed * 1000003L + index))
    val lat = 30.5 + rng.nextDouble() * 4.5
    val lon = -85.5 + rng.nextDouble() * 4.5
    val elev = rng.nextDouble() * 1400
    val line = f"${stationId(index)}%-11s $lat%8.4f $lon%9.4f $elev%6.1f ${state(index)}%-2s STATION $index%06d"
    line.padTo(85, ' ')
  }

  /** Counts the pipeline must reproduce from `lines` (all members). */
  def countsOf(lines: Iterator[DlyLine]): FixtureCounts = {
    var tarLines = 0L
    var kept = 0L
    var bronze = 0L
    val gaFiles = mutable.Set.empty[String]
    // (station, year, month) -> bitmask of days with any value / with a
    // required value
    val bronzeDays = mutable.HashMap.empty[(String, Int, Int), Int]
    val silverDays = mutable.HashMap.empty[(String, Int, Int), Int]
    lines.foreach { l =>
      tarLines += 1
      if (l.id.startsWith("US1GA") && l.year >= FirstYear && l.year <= LastYear) {
        kept += 1
        gaFiles += l.id
        val dim = daysInMonth(l.year, l.month)
        var mask = 0
        (0 until dim).foreach { d =>
          if (l.values(d) != -9999) { bronze += 1; mask |= 1 << d }
        }
        val k = (l.id, l.year, l.month)
        if (mask != 0) bronzeDays(k) = bronzeDays.getOrElse(k, 0) | mask
        if (mask != 0 && Required.contains(l.element))
          silverDays(k) = silverDays.getOrElse(k, 0) | mask
      }
    }
    FixtureCounts(
      tarLines = tarLines,
      keptLines = kept,
      gaFiles = gaFiles.size,
      bronzeRows = bronze,
      bronzeDates = bronzeDays.valuesIterator.map(m => Integer.bitCount(m).toLong).sum,
      silverRows = silverDays.valuesIterator.map(m => Integer.bitCount(m).toLong).sum,
      monthlyRows = silverDays.size.toLong,
      yearlyRows = silverDays.keys.map(k => (k._1, k._2)).toSet.size.toLong,
      summaryRows = silverDays.keys.map(k => (k._1, k._3)).toSet.size.toLong)
  }

  def allLines(seed: Long): Iterator[DlyLine] =
    (0 until GaStations + OtherStations).iterator.flatMap(stationLines(seed, _))

  /** Write `ghcnd_all.tar.gz` and `ghcnd-stations.txt` into `dir`; return
    * the tarball, the stations file and the expected counts.
    */
  def write(seed: Long, dir: Path): (Path, Path, FixtureCounts) = {
    Files.createDirectories(dir)
    val tar = dir.resolve("ghcnd_all.tar.gz")
    val out: OutputStream =
      new GZIPOutputStream(new BufferedOutputStream(Files.newOutputStream(tar), 1 << 16), 1 << 16)
    val tarOut = new TarArchiveOutputStream(out)
    try {
      (0 until GaStations + OtherStations).foreach { i =>
        val bytes = stationLines(seed, i).map(_.text).mkString("", "\n", "\n")
          .getBytes(US_ASCII)
        val entry = new TarArchiveEntry(s"ghcnd_all/${stationId(i)}.dly")
        entry.setSize(bytes.length.toLong)
        tarOut.putArchiveEntry(entry)
        tarOut.write(bytes)
        tarOut.closeArchiveEntry()
      }
      tarOut.finish()
    } finally tarOut.close()
    val stations = dir.resolve("ghcnd-stations.txt")
    Files.write(stations, (0 until GaStations + OtherStations)
      .map(stationsLine(seed, _)).mkString("", "\n", "\n").getBytes(US_ASCII))
    (tar, stations, countsOf(allLines(seed)))
  }
}
