package perfbench

import java.nio.file.Paths

import graft.etl.{Bronze, Silver}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Checks that need Spark: the output checks catch a wrong answer, and the
  * fixture's closed-form counts agree with the library's own parse.
  * Tests run from perfbench/harness.
  */
class SparkChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val dataDir = Paths.get("..", "data", "sf0.01").toAbsolutePath.normalize.toString
  private lazy val expected = Expected.load(Paths.get("..", "expected.tsv"))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def runOnce(want: Map[String, (Long, Long)]): OpResult =
    new QueryWorkload(spark, new Tracer, dataDir, Seq("q47_dedup_clusters"), want, seed = 1L)
      .pass(1, 0L).ops.head

  test("a query op passes against the recorded checksum") {
    val op = runOnce(expected)
    assert(op.ok, op.note)
  }

  test("a corrupted expected checksum or row count fails the op") {
    val (hash, rows) = expected("q47_dedup_clusters")
    assert(!runOnce(expected.updated("q47_dedup_clusters", (hash ^ 1L, rows))).ok)
    assert(!runOnce(expected.updated("q47_dedup_clusters", (hash, rows + 1))).ok)
    assert(!runOnce(expected - "q47_dedup_clusters").ok)
  }

  test("closed-form fixture counts equal Bronze.parseDly and Silver.silver") {
    val session = spark
    import session.implicits._
    val seed = 7L
    val stations = (0 until 40) ++ (DlyFixture.GaStations until DlyFixture.GaStations + 10)
    val lines = stations.flatMap(DlyFixture.stationLines(seed, _))
    val want = DlyFixture.countsOf(lines.iterator)
    assert(want.keptLines < lines.size, "the fixture must hold lines ingest drops")
    val kept = lines.filter(l => l.id.startsWith("US1GA") &&
      l.year >= DlyFixture.FirstYear && l.year <= DlyFixture.LastYear)
    val bronze = Bronze.parseDly(kept.map(_.text).toDF("value")).cache()
    val silver = Silver.silver(bronze,
      stations.map(DlyFixture.stationsLine(seed, _)).toDF("value")).cache()
    assert(bronze.count() == want.bronzeRows)
    assert(bronze.select("ID", "DATE").distinct().count() == want.bronzeDates)
    assert(bronze.select("ID").distinct().count() == want.gaFiles)
    assert(silver.count() == want.silverRows)
    assert(silver.select("ID", "year", "month").distinct().count() == want.monthlyRows)
    assert(silver.select("ID", "year").distinct().count() == want.yearlyRows)
    assert(silver.select("ID", "month").distinct().count() == want.summaryRows)
    assert(silver.filter(col("STATE") =!= "GA").count() == 0)
    bronze.unpersist(); silver.unpersist()
  }
}
