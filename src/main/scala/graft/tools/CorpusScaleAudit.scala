package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the most expensive NON-graph queries (round-11 brief
  * task 5 — the [[GraphScaleAudit]] discipline applied to the text
  * tier): the sf0.1 bench rides the 2× gate alone, and two plan
  * families have constants that could surprise at scale — MBR's
  * n²-per-task fan-out and BPE's iterative distinct-word table. This
  * tool measures each probe at 1× and at KREP× corpus and prints the
  * wall/shuffle RATIOS, so a superlinear mover is a number in an
  * artifact, not a hope.
  *
  * Fixture: `documents` replicated KREP× by doc_id offset with every
  * TOKEN suffixed per replica (`x0`..`x9`) — cross-replica similarity
  * is exactly zero, so duplicate-cluster structure (and therefore
  * near-dup pair volume) grows LINEARLY, the way a real 10× corpus
  * grows: more documents, not more copies of each document. Vocabulary
  * grows ×KREP with it, which is exactly the stress the BPE/distinct-
  * word plans need. All other tables are symlinked unchanged; the
  * probes below only read documents.
  *
  * Linearity verdict: for each probe the last column prints
  * wall_KREPx / (wall_1x · KREP) — ≤ ~1 reads linear-or-better
  * (fixed overheads amortize; sub-1 is common), materially above 1
  * flags a superlinear constant to chase. Paste the table into
  * SCALE.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt -batch "runMain graft.tools.CorpusScaleAudit [q47_...,q315_...]" \
  *     2>/dev/null | grep '^|'
  * Env: SPARK_GRAFT_KREP (default 10). The optional argument replaces
  * the default probe list.
  */
object CorpusScaleAudit {

  // the bench's most expensive non-graph queries (round-11 verdict's
  // probe list): dedup CC both tiers, the recall/blocking truth sides,
  // the BPE training trio, MBR selection, the composed corpus pipeline
  // — plus (round 12 verdict, task 6) the two newest composed gates:
  // q330 (RLHF pipeline, reads EVENTS — replicated by user/event id
  // offset so reward GROUPS grow linearly, the way real traffic
  // grows) and q332 (CCNet tertiles over the frozen-LM scores).
  val DefaultProbes = Seq(
    "q47_dedup_clusters", "q63_dedup_corpus", "q84_corpus_pipeline",
    "q92_bpe_merges", "q93_bpe_vocab", "q94_bpe_doc_tokens",
    "q97_dedup_recall", "q243_blocking_quality", "q315_mbr_select",
    "q330_rlhf_pipeline", "q332_ccnet_tertiles",
    // round-13 heavyweights, the ExactSubstr pair: natural repeats
    // stay within-replica (suffixed vocab), while the query-planted
    // block is IDENTICAL across replicas — its occurrence count grows
    // ×KREP over a constant distinct-gram set, exactly how shared
    // boilerplate behaves in a real growing corpus
    "q335_exact_substr_runs", "q339_exact_substr_excise",
    // round-14 probes (verdict task 5 + the new tier's heaviest
    // plans): the byte-level BPE pair's distinct-pretoken join, the
    // media pipeline's digest dedup, the pixel/PCM decode tiers (pure
    // map + per-payload kernels — the constant to watch is decode
    // cost, not shuffle), the dHash banded pair join (bucket occupancy
    // grows with corpus), and the byte-fallback Viterbi's
    // distinct-word DP (vocabulary grows ×KREP with the suffixed
    // fixture — the same stress as q92's)
    "q334_bytelevel_bpe", "q338_bytelevel_budget", "q340_media_pipeline",
    "q342_pixel_stats", "q343_dhash_neardup", "q345_pcm_stats",
    "q346_audio_pipeline", "q347_viterbi_bytefallback",
    // the round-14 late tier: the composed image-dedup pipeline
    // (decode + banded pairs + CC — pair/cluster volume must stay
    // ∝ corpus), G.711 expansion, and the GIF LZW decode (per-payload
    // kernel constants, map-only). q348 is EXCLUDED: it reads
    // lineitem, which this fixture symlinks unchanged — its scale
    // story is GraphScaleAudit + the shared-edge-cache A/B.
    "q349_image_dedup_pipeline", "q350_g711_stats", "q351_gif_pixels",
    // the late-round-14 video tier: container header walk (map-only),
    // per-frame AVI pixel decode (the heaviest per-payload kernel —
    // every doc decodes ⌈F/2⌉ frames), the 4×4 box resize, the MP3
    // frame walk, and the composed video pipeline (gate → frame
    // sample → per-doc lag window over fixed-width stats rows — the
    // one shuffle, ∝ sampled frames)
    "q352_video_headers", "q353_video_frames", "q354_pixel_resize",
    "q355_mp3_headers", "q356_video_pipeline",
    // cross-modal banded match: probe AND corpus sides both grow with
    // the replicated fixture, so band-bucket occupancy is the constant
    // to watch (the q343 stress, across two tables)
    "q357_crossmodal_match", "q358_mkv_headers",
    // the WebDataset pair: tar enumeration (map-only) and the composed
    // enumerate->slice->decode->join pipeline (the one shuffle is the
    // per-sample img-txt join over fixed-width stats rows)
    "q359_tar_members", "q360_webdataset_pipeline",
    // the gzip hop and the three-kernel .tar.gz chain (both map-only;
    // the constant to watch is per-payload inflate cost)
    "q361_gzip_decode", "q362_webdataset_gz",
    // the privacy strip (map-only; strip + invariance re-decode per row)
    "q363_metadata_strip",
    // zip enumeration + inflate (map-only per-payload kernel work)
    "q364_zip_members",
    // the shard-dedup capstone (decode + banded cross-shard pairs + CC
    // - pair/cluster volume must stay proportional to corpus)
    "q365_shard_dedup_pipeline",
    // round-15 incremental image dedup: batch-vs-corpus banded match —
    // the constant to watch is band-bucket occupancy on BOTH sides
    // (corpus signature table and batch both grow with the corpus),
    // and the shuffle must stay 16-byte signature rows, never pixels
    "q366_incremental_image_dedup",
    // audio perceptual dedup: banded envelope-hash pairs — the q343
    // stress on the audio axis; pair volume must stay ∝ corpus (the
    // fixture's stream-diversity terms exist exactly for this probe)
    "q367_audio_dedup",
    // PNG palette/alpha decode (map-only; per-payload kernel constants)
    "q368_png_palette_alpha",
    // the zstd hop and the .tar.zst chain (map-only; per-payload
    // native decompress cost is the constant to watch)
    "q369_zstd_decode", "q370_webdataset_zst",
    // native baseline JPEG (map-only; the IDCT is the constant to watch)
    "q372_jpeg_pixels",
    // incremental dedup against the published pre-banded bucketed
    // table (batch-side banding is the only per-increment shuffle),
    // and the compressed-shard capstone (zstd + tar + JPEG decode
    // map-side, banded incremental pairs the only shuffle)
    "q373_bucketed_image_dedup", "q374_compressed_shard_dedup",
    // incremental audio dedup (the generic matcher on envelope hashes)
    "q375_incremental_audio_dedup",
    // round-17 published-banded occupancy guard: the flood is stored
    // IN the bucketed table — the probe must stay linear where the
    // unguarded banded cross join is quadratic in flood size
    "q382_published_banded_guard",
    // round-17 text-tier guards: the boilerplate flood grows ×KREP
    // with the corpus (every replica's 60% slice is the SAME string),
    // so the star-edge volume must grow linearly while the unguarded
    // pair join would grow quadratically in the flood
    "q383_simhash_flood_guard", "q384_incremental_text_guard",
    // round-17 MJPEG video dedup: per-payload JPEG frame decode is the
    // constant to watch (map-only); only 16-byte signature rows and
    // guarded pair edges shuffle
    "q385_mjpeg_video_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val krep = sys.env.getOrElse("SPARK_GRAFT_KREP", "10").toInt
    val probes = args.headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultProbes)
    val spark = LocalSession()
    val listener = new Profile.Listener
    spark.sparkContext.addSparkListener(listener)

    // ---- stage the KREP× corpus ----------------------------------
    val tmp = java.nio.file.Files.createTempDirectory("graft_scale_")
    val bigDir = tmp.toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val off = 100000000L
    (0 until krep).map { i =>
      docs.select(
        (col("doc_id") + lit(i * off)).as("doc_id"),
        // per-replica token suffix: cross-replica Jaccard/simhash
        // similarity is exactly 0, so dup structure grows linearly
        regexp_replace(col("text"), "(\\S+)", "$1x" + i).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionByName _)
      // n_chars recomputed from the rewritten text — copying the 1×
      // value would make the fixture internally inconsistent for any
      // probe reading the column
      .withColumn("n_chars", length(coalesce(col("text"), lit("")))
        .cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    // events replicated by ID OFFSET (round-12 verdict task 6): each
    // replica's users/events are fresh ids, so q330's reward groups —
    // the unit its per-group aggregates and DPO pairs key on — grow
    // linearly, the way real traffic grows (more users, not more
    // events per user). Timestamps/values/types stay as-is.
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    (0 until krep).map { i =>
      events.select(
        (col("event_id") + lit(i * off)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * off)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$bigDir/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "embeddings").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$bigDir/$t.parquet"),
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
    }
    // warm up codegen/footers so probe 1 isn't charged JVM startup
    spark.range(1000000).selectExpr("sum(id)").collect()

    println(s"| probe | wall 1x s | wall ${krep}x s | shuf 1x MB | " +
      s"shuf ${krep}x MB | max task ${krep}x MB | spill ${krep}x MB | " +
      s"wall ratio /$krep |")
    println("|---|---|---|---|---|---|---|---|")

    def once(name: String, dir: String): (Double, Profile.Counters) = {
      val fn = graft.SparkEntry.queries(name)
      listener.record(spark.sparkContext) {
        val t0 = System.nanoTime()
        graft.operators.CacheScope.scoped(
          graft.Bench.measure(name, fn(spark, dir)))
        (System.nanoTime() - t0) / 1e9
      }
    }
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"

    probes.foreach { name =>
      val (wallSmall, small) = once(name, sfDir)
      val (wallBig, big) = once(name, bigDir)
      val ratio = wallBig / (wallSmall * krep)
      println(f"| $name | $wallSmall%.1f | $wallBig%.1f | " +
        s"${mb(small.shuffleRead)} | ${mb(big.shuffleRead)} | " +
        s"${mb(big.maxTaskShuffleRead)} | " +
        f"${mb(big.spill)} | $ratio%.2f |")
    }

    // clean the staged fixture (the q290/q291 leak discipline)
    val fs = new org.apache.hadoop.fs.Path(bigDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(bigDir), true)
    spark.stop()
  }
}
