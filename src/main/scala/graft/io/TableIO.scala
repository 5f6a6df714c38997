package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Partitioned lakehouse table read/write, format-abstracted.
  *
  * The reference persists Delta with optimizeWrite/autoCompact
  * (bronze_processor.py:126-142 etc.); Delta jars are not in the offline
  * jar set, so Parquet is the default sink — hive-style partition layout
  * and partition pruning are identical. The Delta write options map to:
  * repartition on the partition columns before the write (one output file
  * per partition per shuffle-partition, bounded small-file count) + AQE
  * coalescing, which Spark 4 enables by default.
  */
object TableIO {

  /** @param schema explicit read schema — REQUIRED for untyped formats
    *                (csv/json) where inference would both cost an extra
    *                pass over 100 TB and produce drift-prone types;
    *                columnar formats (parquet/orc) carry their own.
    * @param options format options (e.g. csv multiLine/quote/escape)
    */
  def read(spark: SparkSession, path: String, format: String = "parquet",
           schema: Option[org.apache.spark.sql.types.StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(r.schema).load(path)
  }

  /** Dynamic partition-column selection exactly like
    * gold_processor.py:246-251: [year,month] if both present, else [year],
    * else unpartitioned.
    */
  def goldPartitionColumns(df: DataFrame): Seq[String] =
    if (df.columns.contains("year") && df.columns.contains("month")) Seq("year", "month")
    else if (df.columns.contains("year")) Seq("year")
    else Seq.empty

  def write(df: DataFrame, path: String,
            partitionBy: Seq[String] = Seq.empty,
            format: String = "parquet",
            mode: String = "overwrite",
            compactPerPartition: Boolean = true,
            options: Map[String, String] = Map.empty): Unit = {
    val arranged =
      if (partitionBy.nonEmpty && compactPerPartition)
        // Co-locate rows of each hive partition so the writer doesn't emit
        // (tasks × partitions) small files — but do it with AQE's rebalance
        // instead of a bare repartition(cols): repartition(year,month) caps
        // write parallelism at the distinct-partition-value count and funnels
        // each hot month through ONE task (the 100 TB scale-killer). The
        // rebalance hint clusters by the partition columns AND lets AQE split
        // oversized shuffle partitions across tasks / coalesce tiny ones
        // (spark.sql.adaptive.optimizeSkewsInRebalancePartitions, on by
        // default), so a skewed month fans out instead of OOMing one task.
        df.hint("rebalance", partitionBy: _*)
      else df
    val writer = arranged.write.format(format).mode(mode).options(options)
    val partitioned =
      if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer
    partitioned.save(path)
  }

  /** Bucketed managed table write: pre-shuffles data into `numBuckets` by
    * `bucketCols` ONCE at write time, so every later equi-join or
    * aggregation on those columns reads co-located buckets and skips its
    * shuffle entirely — the standard amortization for fact tables joined
    * repeatedly on the same key at 100 TB. Requires a metastore table
    * (bucket metadata lives in the catalog), hence saveAsTable.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, format: String = "parquet",
                    mode: String = "overwrite"): Unit = {
    if (mode == "overwrite") {
      // a FRESH in-memory catalog does not know about a prior
      // session's managed-table directory, and CTAS refuses to reuse
      // the location — overwrite semantics must hold across sessions,
      // so drop the catalog entry AND clear a stale location. The
      // stale-location delete is convention-path (warehouse/<name>),
      // so it is guarded three ways: the name must be unqualified
      // (db.tbl would map to the wrong path AND be mis-quoted in the
      // DROP), the path must not belong to a live EXTERNAL table
      // (user data this writer does not own), and an untracked dir is
      // only removed when its contents look like a Spark table dump
      // (part-*/_* files only) — anything else fails loudly instead
      // of being silently rm -rf'd.
      val spark = df.sparkSession
      require(!table.exists(c => c == '.' || c == '/' || c == '`'),
        s"writeBucketed overwrite requires an unqualified table name, got '$table'")
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (spark.catalog.tableExists(table)) {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        val isExternal =
          meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL
        // qualify BOTH sides: an unqualified catalog location (or a
        // file:/ vs file:/// authority difference) would otherwise
        // defeat the equality and let the convention-path branch below
        // delete an external table's data dir
        require(!(isExternal &&
            fs.makeQualified(new org.apache.hadoop.fs.Path(meta.location)) ==
              fs.makeQualified(loc)),
          s"refusing to overwrite external table '$table' at ${meta.location}")
        // dropping a MANAGED table removes its data dir via the catalog's
        // own location — no convention-path delete needed for this case
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
      if (fs.exists(loc)) {
        val entries = fs.listStatus(loc).map(_.getPath.getName)
        val sparkish = entries.forall(n =>
          n.startsWith("part-") || n.startsWith("_") || n.startsWith("."))
        require(sparkish,
          s"stale dir $loc contains non-table files " +
            s"(${entries.filterNot(n => n.startsWith("part-") || n.startsWith("_") || n.startsWith(".")).take(3).mkString(", ")}); " +
            "refusing to delete — remove it manually if it is yours")
        fs.delete(loc, true); ()
      }
    }
    // One exchange to the bucket layout BEFORE the write: without it a
    // bucketed save emits one file per (input task × bucket) — 32
    // upstream partitions × 8 buckets = 256 splinter files per publish,
    // paying footer+open cost on every downstream read (guide §6).
    // Repartitioning by the bucket columns into exactly numBuckets
    // partitions puts each bucket's rows in one task → one file per
    // bucket, and the per-file sortBy sort happens once per bucket.
    df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.format(format).mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Atomic snapshot publish WITHOUT a transactional table format — the
    * commit-marker protocol: data lands in `tableDir/v=N`, and only
    * after the write completes is an empty marker file created at
    * `tableDir/_commits/N`. Readers resolve max(marker) and read that
    * version dir alone, so:
    *   - a writer that dies mid-write leaves data but NO marker — its
    *     half-written snapshot is invisible, readers stay on the last
    *     committed version (no rename-atomicity assumptions: creating a
    *     file is atomic on HDFS, object stores, and local FS alike);
    *   - publishes are all-or-nothing from a reader's perspective;
    *   - every committed version remains readable (time travel) until a
    *     retention sweep deletes marker-then-dir.
    * Contract: ONE writer per table at a time (concurrent publishers
    * could pick the same N — serialize them upstream); this is the
    * manual core of what Delta/Iceberg's commit log automates, for the
    * plain-parquet deployments this library targets offline.
    */
  def publishSnapshot(df: DataFrame, tableDir: String,
                      format: String = "parquet"): Long = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = currentVersion(spark, tableDir).getOrElse(0L) + 1L
    df.write.format(format).mode("overwrite")
      .save(s"$tableDir/v=$version")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tableDir/_commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$tableDir/_commits/$version"),
      false).close()
    version
  }

  /** Latest committed version, if any. */
  def currentVersion(spark: SparkSession, tableDir: String): Option[Long] = {
    val commits = new org.apache.hadoop.fs.Path(s"$tableDir/_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) None
    else {
      val vs = fs.listStatus(commits)
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Retention sweep for [[publishSnapshot]] tables — the manual VACUUM:
    * delete every committed version except the newest `keep`, plus
    * ORPHAN version dirs (no commit marker, version below the current
    * one — a publisher that died mid-write; the dir above the max
    * marker is left alone, it may be a publish in flight).
    *
    * Deletion order is marker FIRST, then data dir: a sweep that
    * crashes between the two leaves an unreferenced dir (invisible to
    * [[readPublished]], removable by the next sweep) — never a
    * committed version whose data is gone. The mirror of the publish
    * protocol's marker-last order.
    *
    * @return removed versions, ascending (orphans included)
    */
  def vacuumSnapshots(spark: SparkSession, tableDir: String,
                      keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    import org.apache.hadoop.fs.Path
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val committed = {
      val commits = new Path(s"$tableDir/_commits")
      if (!fs.exists(commits)) Seq.empty[Long]
      else fs.listStatus(commits).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
    }.sorted
    val current = committed.lastOption
    val expired = committed.dropRight(keep)
    val orphans = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("v=")) scala.util.Try(n.drop(2).toLong).toOption
        else None
      }
      .filter(v => !committed.contains(v) && current.exists(v < _))
    expired.foreach { v =>
      fs.delete(new Path(s"$tableDir/_commits/$v"), false)
      fs.delete(new Path(s"$tableDir/v=$v"), true)
    }
    orphans.foreach(v => fs.delete(new Path(s"$tableDir/v=$v"), true))
    (expired ++ orphans).sorted
  }

  /** Column-level schema diff between two committed snapshot versions —
    * the compatibility check a consumer runs before switching to a new
    * publish: one row per added / removed / retyped column (unchanged
    * columns are omitted). Footer-only: reads both versions' schemas,
    * never their data.
    */
  def snapshotSchemaDiff(spark: SparkSession, tableDir: String,
                         fromVersion: Long, toVersion: Long,
                         format: String = "parquet"): DataFrame = {
    import spark.implicits._
    def fieldsOf(v: Long): Map[String, String] =
      readPublished(spark, tableDir, format, Some(v))
        .schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val from = fieldsOf(fromVersion)
    val to = fieldsOf(toVersion)
    val rows =
      (to.keySet -- from.keySet).toSeq.sorted
        .map(c => (c, null: String, to(c), "added")) ++
      (from.keySet -- to.keySet).toSeq.sorted
        .map(c => (c, from(c), null: String, "removed")) ++
      (from.keySet & to.keySet).toSeq.sorted
        .filter(c => from(c) != to(c))
        .map(c => (c, from(c), to(c), "retyped"))
    rows.toDF("column", "from_type", "to_type", "change")
  }

  /** Read the latest committed snapshot (or an explicit `version`).
    * Uncommitted version dirs are never visible here.
    */
  def readPublished(spark: SparkSession, tableDir: String,
                    format: String = "parquet",
                    version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, tableDir)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $tableDir"))
    spark.read.format(format).load(s"$tableDir/v=$v")
  }

  /** The events table with `ts` normalized to nanos-since-epoch Long.
    *
    * Two on-disk layouts exist for events.ts: parquet TIMESTAMP(NANOS),
    * which Spark 4 cannot read as a timestamp (PARQUET_TYPE_ILLEGAL) and
    * is instead surfaced as a raw Long via
    * spark.sql.legacy.parquet.nanosAsLong; and TIMESTAMP(MICROS), which
    * arrives as TIMESTAMP_NTZ. Both normalize to the same
    * nanos-since-epoch BIGINT here, so every downstream consumer — and
    * every DuckDB oracle, which spells the same value `epoch_ns(ts)` —
    * is layout-independent. The NTZ wall clock is interpreted as UTC,
    * matching DuckDB's naive-timestamp semantics; all session builders in
    * this library pin spark.sql.session.timeZone=UTC so the NTZ→LTZ cast
    * below cannot drift with the host zone.
    */
  def eventsNanos(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }
}
