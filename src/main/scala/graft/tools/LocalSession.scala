package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session Verify and the tools share, and the tools' table
  * directory. The session is `local[n]` with n from SPARK_GRAFT_CPUS
  * (default: the host's core count), one shuffle partition per core, UTC,
  * no UI, WARN logging, Bench's generated-class cache size so a pass over
  * many queries never evicts compiled code, and Bench's nanos-as-long
  * parquet read. Bench builds its own session.
  */
object LocalSession {

  /** Generated tables the tools read: SPARK_GRAFT_SF_DIR, default sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // before any events footer is read (see TableIO.eventsNanos)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}
