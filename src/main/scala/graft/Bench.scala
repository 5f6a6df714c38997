package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** The measurement action for a query: count() for plans count()
    * cannot prune, a full-row checksum otherwise — shared by Bench and
    * Profile so both tools measure the ADVERTISED plan (a
    * count()-eliminated unique-key join or pruned projection audits as
    * an empty scan and benches a no-op). bit_xor, not sum: summing
    * 64-bit hashes overflows under ANSI; xor is closed over Long and
    * order-insensitive.
    */
  def measure(name: String,
              df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    if (checksumQueries(name)) {
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
        .agg(expr("bit_xor(__h)")).collect()
      ()
    } else {
      df.count()
      ()
    }
  }

  // Queries whose advertised work is a pure projection: under the
  // default count() action Catalyst prunes the computed columns away
  // (EliminateSorts drops their ORDER BY too), so count() would bench
  // an empty scan, not the operator (SCALE.md, "q81↔q84 gap"). For
  // these, the action is a single hash-agg checksum over every output
  // column — forces full evaluation, still returns one driver-side row.
  val checksumQueries = Set(
    "q26_text_quality", "q28_fingerprint", "q34_embed_quantize",
    "q42_repetition", "q43_pii_scan", "q62_chunking", "q81_quality_gate",
    "q98_quality_classifier", "q99_hash_split", "q101_pii_redact",
    // round-9 additions whose payload columns count() would prune:
    // q116's rebuilt text, q117's regex canonicalization, q119's
    // window columns, q120's unpivoted values
    "q116_boilerplate", "q117_url_canon", "q119_window_suite",
    "q120_unpivot",
    // q151's suffix-sum/shapley columns, q152's fill/age windows, and
    // q154's min/max/ndv stats are all projections a count() would
    // prune to a bare scan/group — checksum them.
    "q151_knn_shapley", "q152_gapfill_locf", "q154_shard_stats",
    "q158_embed_dim_stats",
    // q87: count() eliminates its unique-key left join (Catalyst join
    // elimination), benching a bare scan — checksum forces the
    // familiarity aggregate it advertises.
    "q87_ngram_familiarity",
    // q201's CUSUM windows and q202's S-curve arithmetic are
    // projections over a fixed row count — count() would prune them.
    "q201_cusum", "q202_lsh_curve",
    // q206's cap aggregates, q207's modularity tail (its left join is
    // eliminable under count()), q208's median/MAD windows: all
    // count()-prunable payloads.
    "q206_domain_cap", "q207_modularity", "q208_rolling_mad",
    // q292/q298: count() would eliminate the unique-key left join
    // (q87's pattern), benching a bare doc_id scan instead of the
    // matcher.
    "q292_maxmatch_tokens", "q298_maxmatch_joined",
    "q301_tokenizer_lifecycle",
    // round-9 continuation: q232's threshold search and q245's
    // per-block lag windows live in aggregate expressions a count()
    // prunes to bare scans; q241's id arrays are collect_list agg
    // payloads likewise pruned.
    "q232_conformal_gate", "q241_dict_encode", "q245_runs_test",
    // q304/q305: the doc/pair-spine unique-key left joins are
    // eliminable under count() (q87's pattern) — checksum forces the
    // gram/draft aggregates.
    "q304_rouge_n", "q305_draft_acceptance", "q307_viterbi_tokens",
    // q308 is a PURE projection — count() would prune it to a bare
    // join of two id columns; checksum forces the LCS kernel.
    "q308_rouge_l",
    // q310: the candidate-spine left joins to the pivoted gram
    // aggregate and the closest-ref row are unique-key-eliminable
    // under count() (q87's pattern) — checksum forces the BLEU
    // clipping pipeline. (q311 ends in a global one-row aggregate,
    // which count() cannot prune.)
    "q310_bleu",
    // q313: pair-spine left join to the unique-key per-pair chrF
    // aggregate — eliminable under count(), checksum forces the
    // char-gram pipeline. (q312 ends in a (pair, k) aggregate.)
    "q313_chrf",
    // q329: the BPE encode kernel and segmentation string are a pure
    // projection over the distinct-word aggregate — count() would
    // bench the distinct alone.
    "q329_bpe_rank_encode",
    // q333 is a pure projection (construct payload → parse header) —
    // count() would prune both the construction and the kernel.
    "q333_media_headers",
    // q334: q329's pattern at byte level — the encode kernel and seg
    // string are a projection over the distinct-pretoken aggregate.
    "q334_bytelevel_bpe",
    // q335: the doc-spine left join to the unique-key run stats is
    // eliminable under count() (q87's pattern) — checksum forces the
    // gram aggregate + interval merge.
    "q335_exact_substr_runs",
    // q337 is q333's shape: pure construct→parse projection.
    "q337_webp_bmp_headers",
    // q338: doc-spine unique-key left join, eliminable under count().
    "q338_bytelevel_budget",
    // q339: the cleaned-text rebuild is a projection over the covered-
    // set left join — count() would prune the excision entirely.
    "q339_exact_substr_excise",
    // q341 is q333's construct→parse projection shape for audio.
    "q341_audio_headers",
    // round 14: q342/q344/q345 are construct→decode projections
    // (q333's shape — count() would prune the kernel call; q342's
    // payload construction runs either way, being a mapPartitions
    // barrier, but the DECODE is the advertised work); q32/q41 became
    // pixel-meta projections; q347 is q307's doc-spine unique-key
    // left join, eliminable under count().
    "q342_pixel_stats", "q344_tiff_exif", "q345_pcm_stats",
    "q32_multimodal_meta", "q41_multimodal_features",
    "q347_viterbi_bytefallback",
    // q350/q351: construct->decode projections (G.711 expand; GIF LZW)
    "q350_g711_stats", "q351_gif_pixels")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // STATIC conf (must be set at session creation): the generated-class
      // cache defaults to 100 entries, and one pass over the ~70-query
      // suite compiles far more codegen units than that — by the next
      // pass a query's classes may be evicted, so a sample pays Janino
      // recompilation (tens of ms per unit) on top of the query. Sized
      // so no eviction happens within a bench run; measured r7→r8
      // same-code deltas of 2–4× on untouched queries traced to this
      // plus pass-to-pass variance (see min-of-3 below).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up the JVM (codegen compiler, shuffle machinery) and the parquet
    // footers once, so per-query times measure the queries, not startup.
    // The nanos conf is set BEFORE any events footer is read: harmless on
    // the TIMESTAMP(MICROS) layout, required on TIMESTAMP(NANOS) (see
    // TableIO.eventsNanos — both layouts normalize downstream).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").schema
      catch { case _: Throwable => }
    }
    // Best-of-3 per query, the three runs taken as INTERLEAVED
    // end-to-end passes over the whole suite rather than back-to-back
    // repeats: a single-shot run conflates codegen/JIT latency and GC
    // pauses with the query, and back-to-back repeats share whatever GC /
    // compilation storm is in flight at that moment — round 6's
    // identical-code control still showed 3× per-query swings under
    // back-to-back best-of-2. Separating a query's samples by a full
    // pass (~20s) decorrelates them, so the per-query minimum approaches
    // the steady-state time and deltas across rounds become attributable.
    // THREE passes, not two: round 8's same-code control showed 16/70
    // queries still moving >1.5× between two-pass runs — with ~20% odds
    // of a slow sample per pass, best-of-2 leaves ~4% of queries with no
    // clean sample, best-of-3 under 1% (and the raised codegen cache
    // above removes the systematic recompile component).
    // A query that throws in a pass contributes no sample from that pass;
    // a query that throws in ALL passes is EXCLUDED from the total and
    // listed in "failed" — folding a failure's elapsed time in would let
    // a broken query shrink the headline number.

    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        graft.operators.CacheScope.scoped(measure(name, fn(spark, sfDir)))
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    }
    // CALIBRATION probe (round-11 brief): the same forced
    // range(8M).repartition(8) shuffle SHUFFLE_AUDIT uses, timed once
    // before each pass. It exercises nothing query-specific — only the
    // ambient machine (CPU contention, shuffle I/O, GC), so the
    // round-over-round ratio of calibration times separates "the code
    // changed" from "the machine was slower today" (driver totals moved
    // 170→244 s across r10→r11 while the common-query local medians got
    // FASTER — that drift is what this row prices). Consumed by
    // tools/bench_compare.py as a normalization denominator.
    // BEST-OF-5 within each pass (ADVICE r12): a single sub-second
    // same-code timing moves up to ~1.5× (the round-8 control), which
    // a normalization DENOMINATOR cannot afford — five back-to-back
    // probes cost ~3 s/pass and the min is the steady-state shuffle
    // time, so the denominator's variance is small relative to the
    // cross-round drift it is meant to cancel.
    def calibrate(): Double = {
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.range(8000000L).repartition(8).selectExpr("sum(id)").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // CPU-BOUND calibration probe (round 13): the shuffle probe above
    // stayed flat (0.59–0.70 s) across rounds where EVERY query family
    // — including code untouched for 5+ rounds — uniformly slowed
    // 1.5–2.9× locally (the r12→r13 CC-tier adjudication, SCALE.md):
    // host per-core THROUGHPUT drift that a short shuffle wait cannot
    // see. One single-task codegen'd hash-sum prices exactly that —
    // pure expression CPU, no shuffle, no parallelism — so the pair
    // (calibration_sec, calibration_cpu_sec) separates "machine I/O
    // weather" from "machine compute class" in cross-round deltas.
    def calibrateCpu(): Double = {
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        // bit_xor, not sum — summing 64-bit hashes overflows under
        // ANSI (the measure() lesson)
        spark.range(0L, 16000000L, 1L, 1)
          .selectExpr("bit_xor(xxhash64(id))").collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // Optional subset for LOCAL re-measurement (drift adjudication —
    // the driver never sets this): same interleaved-pass machinery,
    // same calibration rows, restricted query set.
    val onlyQ = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlyQ.forall(_.contains(n)) }
    def pass(sel: String => Boolean): Map[String, Option[Double]] =
      named.filter(p => sel(p._1))
        .map { case (name, fn) => name -> once(name, fn) }.toMap
    val calSamples = Seq.newBuilder[Double]
    val calCpuSamples = Seq.newBuilder[Double]
    def calibratedPass(sel: String => Boolean): Map[String, Option[Double]] = {
      calSamples += calibrate()
      calCpuSamples += calibrateCpu()
      pass(sel)
    }
    val passes = Seq(calibratedPass(_ => true), calibratedPass(_ => true),
      calibratedPass(_ => true))
    def minOf(ps: Seq[Map[String, Option[Double]]], name: String): Option[Double] = {
      val samples = ps.flatMap(_.get(name).flatten)
      if (samples.isEmpty) None else Some(samples.min)
    }
    // Queries at ≥1s get two EXTRA interleaved passes (5 samples total):
    // round 8's same-code control showed best-of-3 still moving 30–47%
    // on the ≥1s band, and these queries are where cross-round deltas
    // must be attributable. The extra passes cost ~2× the ≥1s subtotal —
    // cheap relative to the suite — and keep the decorrelation property
    // (full-subset separation between samples, not back-to-back repeats).
    val slow: Set[String] = named.map(_._1)
      .filter(n => minOf(passes, n).exists(_ >= 1.0)).toSet
    val extraPasses =
      if (slow.isEmpty) Seq.empty
      else Seq(pass(slow), pass(slow))
    val results = named.map { case (name, _) =>
      name -> minOf(passes ++ extraPasses, name)
    }
    // MEDIAN per query alongside the min (round-10 brief: the ±13%
    // ambient spread of min-of-3 eats half the 2x bench margin;
    // the median of interleaved samples is a ~5%-stable center, so
    // round-over-round movers become attributable). LOWER median on an
    // even sample count — always a real measured sample, deterministic.
    def medOf(name: String): Option[Double] = {
      val samples = (passes ++ extraPasses).flatMap(_.get(name).flatten).sorted
      if (samples.isEmpty) None else Some(samples((samples.size - 1) / 2))
    }
    val medians = named.flatMap { case (name, _) =>
      medOf(name).map(name -> _)
    }
    val ok = results.collect { case (n, Some(s)) => n -> s }
    val failed = results.collect { case (n, None) => n }
    // ms precision keeps the one-line JSON comfortably inside log-tail
    // windows (full nanosecond doubles pushed it near truncation).
    def r(v: Double): Double = math.round(v * 10000) / 10000.0
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + r(v) }.mkString("{", ",", "}")
    val qms = medians.map { case (k, v) => s"\"" + k + "\":" + r(v) }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cs = checksumQueries.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    val totalMed = medians.map(_._2).sum
    // "value" sits at the END of the object: the driver's log-tail window
    // keeps the END of long lines, and round 8's front-truncation lost
    // the headline number exactly because value led the line. A second
    // minimal total-only line is emitted LAST as a belt-and-braces parse
    // target — short enough that no tail window can cut it. "value"
    // stays the min-based total (comparable to every prior round);
    // value_median is the sum of per-query medians.
    val cal = calSamples.result()
    val calMin = r(cal.min)
    val calMed = r(cal.sorted.apply((cal.size - 1) / 2))
    val calCpu = r(calCpuSamples.result().min)
    val fullLine = s"""{"metric":"total","unit":"sec","sf":"$sfDir","checksum_action":$cs,"queries":$qs,"queries_median":$qms,"failed":$fs,"calibration_sec":$calMin,"calibration_median_sec":$calMed,"calibration_cpu_sec":$calCpu,"value_median":${r(totalMed)},"value":${r(total)}}"""
    println(fullLine)
    println(s"""{"metric":"total","value":${r(total)},"value_median":${r(totalMed)},"calibration_sec":$calMin,"calibration_cpu_sec":$calCpu,"unit":"sec","sf":"$sfDir","n_queries":${ok.size},"n_failed":${failed.size}}""")
    // Driver log tails keep only ~68 of the per-query times; committing
    // the full line per round (bench_local_rN.json) is what makes
    // round-over-round per-query regression checks possible from repo
    // artifacts. Opt-in so the driver's own runs are unaffected.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), fullLine + "\n")
    }
    spark.stop()
  }
}
