package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryKit._

/** Media dedup pipelines q365–q385: shard, image, audio and video
  * near-dup pipelines, their incremental and published-artifact forms,
  * and the occupancy-guarded matchers.
  */
object MediaDedupQueries {

  lazy val all: Seq[Query] = Seq(
    // The SHARD-DEDUP capstone — the full chain a multimodal shard
    // curation job actually runs, composed as ONE plan: enumerate tar
    // members → slice → decode every image member's pixels → dHash →
    // banded perceptual pairs ACROSS SHARDS (exact-match radius) →
    // connected components → one verdict row. The fixture PLANTS
    // cross-shard duplicates (shard pairs re-ship one identical
    // picture under different member names — byte-equal pixels inside
    // byte-unequal archives), so the duplicate mass is real and the
    // oracle re-derives every dHash from pixel arithmetic and replays
    // the CC as a recursive min-label flood. Truncated shards (%10==9)
    // contribute no images and orphan their partner's planted dup.
    Query("q365_shard_dedup_pipeline", (s, dir) => {
      // cached: two consumers (shard parse-audit + image explode) would
      // otherwise each re-run the shard constructor for every doc
      val media = graft.operators.CacheScope.track(
        payloads(spreadIds(t(s, dir, "documents")), TarFixtures.dedupPayload))
      val shards = media.select(col("doc_id"),
        graft.functions.tarMembers(col("__p")).isNotNull.as("parsed"))
      val imgs = media.select(col("doc_id"), col("__p"),
          explode(graft.functions.tarMembers(col("__p"))).as("__m"))
        .filter(col("__m.name").endsWith(".bmp"))
        // img_id = doc·8 + k (k ≤ 4 < 8): collision-free across shards
        .select((col("doc_id") * 8L +
            regexp_extract(col("__m.name"), "_(\\d+)\\.", 1)
              .cast("long")).as("img_id"),
          graft.functions.pixelStats(
            col("__p").substr(col("__m.offset") + 1L, col("__m.size")))
            .getField("dhash").as("dhash"))
        .transform(graft.operators.CacheScope.track)
      val pairs = graft.operators.Dedup.signaturePairs64(imgs, "img_id",
          "dhash", maxHamming = 0)
        .transform(graft.operators.CacheScope.track)
      val clusters = graft.operators.Components
        .connectedComponents(pairs, "i", "j")
      shards.agg(count(lit(1)).as("n_shards"),
          count(when(col("parsed"), 1)).as("n_parseable"))
        .crossJoin(imgs.agg(count(lit(1)).as("n_images"),
          count(col("dhash")).as("n_hashed")))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .crossJoin(clusters.agg(count(lit(1)).as("n_members"),
          count_distinct(col("component")).as("n_clusters")))
        .withColumn("n_dup_excess", col("n_members") - col("n_clusters"))
        .withColumn("ship",
          col("n_parseable") > 0L && col("n_dup_excess") >= 0L)
        .orderBy("n_shards")
    },
    // Shard dedup: every image dHash re-derived from pixel arithmetic
    // (sample 0's pixels come from the PAIR-shared s'), exact-match
    // pairs over the full image set, CC as the q349 recursive
    // min-label flood, one verdict row.
    oracle =
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, doc_id % 4 + 2 AS s
         |  FROM documents WHERE doc_id % 10 <> 9),
         |pq AS (
         |  SELECT doc_id, k, sp, sp % 24 + 9 AS w, (sp * 5) % 24 + 8 AS h
         |  FROM (
         |    SELECT doc_id, k,
         |      CASE WHEN k = 0 THEN 4 * (doc_id - doc_id % 2)
         |        ELSE 4 * doc_id + k END AS sp
         |    FROM (SELECT doc_id, unnest(range(s)) AS k FROM d))),
         |lum AS (
         |  SELECT doc_id, k, w, h, u.x AS x, u.y AS y,
         |    299 * u.p + 587 * ((u.p * 3) % 256)
         |      + 114 * ((u.p * 5) % 256) AS lum
         |  FROM (
         |    SELECT doc_id, k, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + sp % 31) * (y + sp % 37) * 3 + sp)
         |                % 256})))) AS u
         |    FROM pq)),
         |${oDhashCtes(Seq("doc_id", "k"), "kk")},
         |sig AS (
         |  SELECT pq.doc_id * 8 + pq.k AS img_id,
         |    ${oSignedHash("x.hraw", "dhash")}
         |  FROM pq LEFT JOIN (
         |    SELECT doc_id, k, sum(CAST(1 AS HUGEINT) << CAST(kk AS INT))
         |      AS hraw
         |    FROM bits GROUP BY 1, 2) x
         |    ON x.doc_id = pq.doc_id AND x.k = pq.k),
         |p AS (
         |  SELECT a.img_id AS i, b.img_id AS j
         |  FROM sig a JOIN sig b
         |    ON a.img_id < b.img_id AND a.dhash = b.dhash),
         |${oPairFloodCtes("UNION")},
         |ca AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(count(DISTINCT component) AS BIGINT) AS n_clusters
         |  FROM l)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_shards,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_parseable,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_images,
         |  (SELECT CAST(count(dhash) AS BIGINT) FROM sig) AS n_hashed,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_pairs,
         |  ca.n_members, ca.n_clusters,
         |  ca.n_members - ca.n_clusters AS n_dup_excess,
         |  (SELECT count(*) FROM d) > 0
         |    AND ca.n_members - ca.n_clusters >= 0 AS ship
         |FROM ca ORDER BY n_shards""".stripMargin),

    // q366: INCREMENTAL cross-batch image dedup — the production
    // pattern q365 stops short of: dedup TODAY's arriving shard batch
    // (odd docs) against YESTERDAY's corpus (even docs) without
    // re-decoding or re-pairing the corpus. The corpus participates
    // only through its persisted (img_id, dhash) signature table —
    // 16 bytes/image; here built once and cache-tracked, in production
    // a parquet table bucketed by (band, nib). Cross matches ride
    // Dedup.signatureMatches64Incremental (banded, pigeonhole-exact),
    // batch survivors come from keepCanonical over the BATCH only, and
    // the refreshed table is the corpus ∪ survivor-signature append.
    // Fixture plants BOTH dup shapes (TarFixtures.incrementalPayload):
    // cross (shard pairs (2m, 2m+1) share sample 0) and batch-internal
    // (odd pairs (4m+1, 4m+3) share sample 1) — and nothing else.
    Query("q366_incremental_image_dedup", (s, dir) =>
      incrementalImageDedup(s, dir, TarFixtures.incrementalPayload,
        bmpMemberSigs, exactMatches),
    // Incremental image dedup: dHashes re-derived from pixel
    // arithmetic (q365's pipeline with q366's sp plan: sample 0 pair-
    // shared, sample 1 shared across odd (4m+1, 4m+3) pairs, sample
    // count doc%3+2), split even→corpus / odd→batch, exact-match cross
    // and within pair sets, keepCanonical over the batch (component ≠
    // id drops), survivors appended to the corpus signature table.
    oracle = oIncrementalImageDedupSql),

    // q367: perceptual AUDIO dedup — the image dedup story's audio
    // twin. A 64-bit energy-envelope sign hash over the decoded linear
    // samples (graft_audio_hash: 65 integer windows, bit t =
    // e(t+1) > e(t) — dHash on the time axis) rides the SAME
    // signaturePairs64 banding images use. The fixture plants G.711
    // μ-law streams next to their PCM-16 transcodes (byte-unequal
    // payloads, different codecs, identical linear samples → identical
    // hashes) in doc trios; the third member is unique ramp audio.
    // Truncated docs hash NULL and drop from banding.
    Query("q367_audio_dedup", (s, dir) => {
      // payload bytes from the COMPILED AudioFixtures writer (byte-
      // identical to the audioDedupPayload expression — see
      // AudioDedupPayloadSpec): the hex-string expression tree was the
      // query's dominant CPU
      val sigs = payloads(spreadIds(t(s, dir, "documents")),
        AudioFixtures.dedupPayload)
        .select(col("doc_id"),
          graft.functions.audioHash(col("__p")).as("ahash"))
        .transform(graft.operators.CacheScope.track)
      val pairs = graft.operators.Dedup.signaturePairs64(
        sigs, "doc_id", "ahash", maxHamming = 2)
        .transform(graft.operators.CacheScope.track)
      val clusters = graft.operators.Components
        .connectedComponents(pairs, "i", "j")
      sigs.agg(count(lit(1)).as("n_docs"),
          count(col("ahash")).as("n_hashed"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .crossJoin(clusters.agg(count(lit(1)).as("n_members"),
          count_distinct(col("component")).as("n_clusters")))
        .withColumn("n_dup_excess", col("n_members") - col("n_clusters"))
        .orderBy("n_docs")
    },
    // Audio perceptual dedup: every doc's linear samples replayed
    // arithmetically (μ-law expansion as the public CCITT formula in
    // CASE arithmetic for the v≤1 trio members, the per-doc ramp for
    // v=2), 65-window abs-energy envelope, sign bits to a
    // two's-complement BIGINT hash, brute-force Hamming ≤ 2 pairs, CC
    // flood, one verdict row.
    oracle =
      s"""WITH RECURSIVE $oAudioSigCtes,
         |p AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.ahash, b.ahash)) <= 2),
         |${oPairFloodCtes("UNION")},
         |ca AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(count(DISTINCT component) AS BIGINT) AS n_clusters
         |  FROM l)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_hashed,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_pairs,
         |  ca.n_members, ca.n_clusters,
         |  ca.n_members - ca.n_clusters AS n_dup_excess
         |FROM ca ORDER BY n_docs""".stripMargin),

    // q378: the band-bucket OCCUPANCY GUARD under a constant-image
    // flood (round 16 — the q374 fixture incident as a production
    // hazard): 60% of the corpus is the SAME solid fill (any flat
    // image dHashes to 0), piling one exact group into all four of its
    // (band, nib) buckets. signaturePairs64Guarded degrades LOUDLY,
    // never quadratically: exact duplicates match via linear STAR
    // edges (same components as all-pairs), near pairs only through
    // unsaturated buckets, and bandSaturation reports the flood. The
    // near-dup slice (q343's edited pairs) still matches through its
    // unsaturated buckets.
    Query("q378_occupancy_guard", (s, dir) => {
      val media = payloads(docIds(s, dir), PixelFixtures.floodPayload)
      val sigs = media
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p"))
            .getField("dhash").as("dhash"))
        .transform(graft.operators.CacheScope.track)
      val sat = graft.operators.Dedup.bandSaturation(
        sigs, "doc_id", "dhash", maxOccupancy = 32)
      val pairs = graft.operators.Dedup.signaturePairs64Guarded(
        sigs, "doc_id", "dhash", maxHamming = 2, maxOccupancy = 32)
        .transform(graft.operators.CacheScope.track)
      val survivors = graft.operators.Components.keepCanonical(
        sigs.filter(col("dhash").isNotNull), "doc_id", pairs)
      sigs.agg(count(lit(1)).as("n_images"),
          count(col("dhash")).as("n_hashed"),
          count(when(col("dhash") === 0L, 1)).as("n_flat"))
        .crossJoin(sat.agg(
          sum(col("n_saturated_buckets")).as("n_saturated_buckets"),
          sum(col("n_sigs_in_saturated")).as("n_rows_saturated")))
        .crossJoin(pairs.agg(
          count(when(col("hamming") === 0L, 1)).as("n_exact_edges"),
          count(when(col("hamming") >= 1L, 1)).as("n_near_pairs")))
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
        .orderBy("n_images")
    },
    // Occupancy guard under the constant-image flood: flood docs all
    // dHash to 0 (flat image — no cell comparison fires); non-flood
    // docs replay q343's pixel arithmetic. Bands come from the
    // UNSIGNED hash (HUGEINT division by 2^16b), saturation is the
    // occ > 32 rule, exact groups become star edges, near pairs only
    // through unsaturated buckets, survivors via the unrolled CC.
    oracle =
      s"""WITH $oFloodImageBandCtes,
        |near AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        |  FROM bandok a JOIN bandok b
        |    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) BETWEEN 1 AND 2),
        |grp AS (
        |  SELECT dhash, min(doc_id) AS mn, count(*) AS n
        |  FROM sig GROUP BY 1),
        |star AS MATERIALIZED (
        |  SELECT g.mn AS i, s.doc_id AS j
        |  FROM grp g JOIN sig s ON s.dhash = g.dhash
        |  WHERE g.n >= 2 AND s.doc_id <> g.mn),
        |esym AS MATERIALIZED (
        |  SELECT i AS u, j AS v FROM star
        |  UNION ALL SELECT j, i FROM star
        |  UNION ALL SELECT i, j FROM near
        |  UNION ALL SELECT j, i FROM near),
        |enodes AS (SELECT DISTINCT u AS node FROM esym),
        |${oUnrolledCcCtes("a", "enodes", "esym")}
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_images,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_hashed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE dhash = 0)
        |    AS n_flat,
        |  (SELECT CAST(count(CASE WHEN occ > 32 THEN 1 END) AS BIGINT)
        |   FROM occ) AS n_saturated_buckets,
        |  (SELECT CAST(coalesce(sum(CASE WHEN occ > 32 THEN occ END), 0)
        |     AS BIGINT) FROM occ) AS n_rows_saturated,
        |  (SELECT CAST(count(*) AS BIGINT) FROM star) AS n_exact_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM near) AS n_near_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM alab)
        |    + (SELECT CAST(count(DISTINCT component) AS BIGINT) FROM alab)
        |    + (SELECT poison FROM achg) AS n_survivors
        |ORDER BY n_images""".stripMargin),

    // q380: the occupancy guard at the INCREMENTAL (production) shape
    // — yesterday's corpus already holds half the solid-fill flood and
    // today's batch ships the other half, the case where the unguarded
    // batch-vs-corpus band join would emit |corpus dups|×|batch dups|
    // rows. Guarded: one representative cross edge per matched batch
    // id, star edges within the batch, near matches only through
    // buckets under the COMBINED occupancy cap; survivors identical to
    // the unguarded matcher outside saturated near-recall regions.
    Query("q380_incremental_guard", (s, dir) =>
      guardedFloodDedup(s, dir, (batchSigs, corpusSigs) =>
        graft.operators.Dedup.signatureMatches64IncrementalGuarded(
          batchSigs, "doc_id", "dhash", corpusSigs, "doc_id", "dhash",
          maxHamming = 2, maxOccupancy = 32)),
    oracle = oIncrementalGuardSql),

    // q373: the incremental image dedup (q366) against a PUBLISHED
    // signature artifact — the 100-TB shape the q366 scale notes
    // called for: the corpus signature table is persisted PRE-BANDED
    // (Dedup.bandRows64: 4 rows × 24 bytes per image) and BUCKETED by
    // the join key (band, nib), so the daily batch-vs-corpus cross
    // join reads co-located buckets with NO corpus-side exchange —
    // the banding shuffle is paid once at table publish, not per
    // arriving batch. Grades against q366's exact oracle SQL, so the
    // driver's hash compare proves session-built ≡ published-artifact
    // (the q348/q371 pattern).
    Query("q373_bucketed_image_dedup", (s, dir) =>
      incrementalImageDedup(s, dir, TarFixtures.incrementalPayload,
        bmpMemberSigs, (batchSigs, corpusSigs) => {
          // PUBLISH: yesterday's job wrote this once; today reads it
          graft.io.TableIO.writeBucketed(
            graft.operators.Dedup.bandRows64(corpusSigs, "img_id", "dhash"),
            "graft_image_sigs_banded", Seq("band", "nib"), numBuckets = 8)
          graft.operators.Dedup.signatureMatches64IncrementalBanded(
            batchSigs, "img_id", "dhash",
            s.table("graft_image_sigs_banded"), "img_id", "dhash",
            maxHamming = 0)
        }),
    // The bucketed pre-banded signature-table twin grades against the
    // IDENTICAL SQL: the driver's hash compare IS the session-built
    // vs published-artifact identity proof (the q348/q371 pattern).
    oracle = oIncrementalImageDedupSql),

    // q382: the occupancy guard at the PUBLISHED-artifact shape (round
    // 17 — closes round 16's #1 weak mark): q380's flood split, but
    // the corpus side is the PERSISTED pre-banded bucketed signature
    // table (bandRows64 + writeBucketed), consumed AS STORED by
    // signatureMatches64IncrementalBandedGuarded — the per-(band, nib,
    // sig) corpus reduction aggregates in place with no corpus-side
    // exchange (SkewBucketSpec pins the plan), so a logo flood stored
    // IN the published table collapses to one row per bucket before
    // any join sees it. Grades against q380's exact oracle SQL: the
    // driver's hash compare proves published-artifact ≡ session-built
    // guard.
    Query("q382_published_banded_guard", (s, dir) =>
      guardedFloodDedup(s, dir, (batchSigs, corpusSigs) => {
        // PUBLISH: yesterday's job banded + bucketed the corpus once
        graft.io.TableIO.writeBucketed(
          graft.operators.Dedup.bandRows64(corpusSigs, "doc_id", "dhash"),
          "graft_image_sigs_banded_guard", Seq("band", "nib"),
          numBuckets = 8)
        graft.operators.Dedup.signatureMatches64IncrementalBandedGuarded(
          batchSigs, "doc_id", "dhash",
          s.table("graft_image_sigs_banded_guard"), "doc_id", "dhash",
          maxHamming = 2, maxOccupancy = 32)
      }),
    // q382 grades against q380's EXACT oracle string (see
    // oIncrementalGuardSql): hash identity is the proof.
    oracle = oIncrementalGuardSql),

    // q383: the occupancy guard at the TEXT tier (round 17 —
    // boilerplate is the text twin of the logo flood: cookie banners,
    // license headers, near-empty documents all fold to ONE wide
    // simhash). 60% of the corpus is the same cookie-banner string;
    // simhashPairsWideGuarded stars the exact group linearly (never
    // C(300,2) pairs), near pairs ride unsaturated buckets only, and
    // bandSaturationWide reports the flood per band. Oracle replays
    // the wide simhash over the flooded text, the 14-bit banding, the
    // occupancy rule, star/near edge sets, and the CC survivors.
    Query("q383_simhash_flood_guard", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 <= 2, lit(BoilerplateText))
            .otherwise(col("text")).as("text"))
        .transform(graft.operators.CacheScope.track)
      val sat = graft.operators.Dedup.bandSaturationWide(
        docs, "doc_id", "text", maxOccupancy = 32)
      val pairs = graft.operators.Dedup.simhashPairsWideGuarded(
        docs, "doc_id", "text", maxHamming = 2, maxOccupancy = 32)
        .transform(graft.operators.CacheScope.track)
      val survivors = graft.operators.Components.keepCanonical(
        docs, "doc_id", pairs)
      docs.agg(count(lit(1)).as("n_docs"),
          count(when(col("doc_id") % 5 <= 2, 1)).as("n_flood"))
        .crossJoin(sat.agg(
          sum(col("n_saturated_buckets")).as("n_saturated_buckets"),
          sum(col("n_sigs_in_saturated")).as("n_rows_saturated")))
        .crossJoin(pairs.agg(
          count(when(col("hamming") === 0L, 1)).as("n_exact_edges"),
          count(when(col("hamming") >= 1L, 1)).as("n_near_pairs")))
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
        .orderBy("n_docs")
    },
    // Text-tier occupancy guard: wide simhash replayed over the
    // boilerplate-flooded corpus, 14-bit banding, occ > 32 rule, star
    // edges per exact group, near pairs through unsaturated buckets,
    // survivors via the unrolled CC.
    oracle =
      s"""WITH ${oWideFloodCtes},
        |near AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        |  FROM bandok a JOIN bandok b
        |    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sig, b.sig)) BETWEEN 1 AND 2),
        |grp AS (
        |  SELECT sig, min(doc_id) AS mn, count(*) AS n
        |  FROM wide GROUP BY 1),
        |star AS MATERIALIZED (
        |  SELECT g.mn AS i, s.doc_id AS j
        |  FROM grp g JOIN wide s ON s.sig = g.sig
        |  WHERE g.n >= 2 AND s.doc_id <> g.mn),
        |esym AS MATERIALIZED (
        |  SELECT i AS u, j AS v FROM star
        |  UNION ALL SELECT j, i FROM star
        |  UNION ALL SELECT i, j FROM near
        |  UNION ALL SELECT j, i FROM near),
        |enodes AS (SELECT DISTINCT u AS node FROM esym),
        |${oUnrolledCcCtes("a", "enodes", "esym")}
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM wide) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 5 <= 2) AS n_flood,
        |  (SELECT CAST(count(CASE WHEN occ > 32 THEN 1 END) AS BIGINT)
        |   FROM occ) AS n_saturated_buckets,
        |  (SELECT CAST(coalesce(sum(CASE WHEN occ > 32 THEN occ END), 0)
        |     AS BIGINT) FROM occ) AS n_rows_saturated,
        |  (SELECT CAST(count(*) AS BIGINT) FROM star) AS n_exact_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM near) AS n_near_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM wide)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM alab)
        |    + (SELECT CAST(count(DISTINCT component) AS BIGINT) FROM alab)
        |    + (SELECT poison FROM achg) AS n_survivors
        |ORDER BY n_docs""".stripMargin),

    // q384: the text guard at the INCREMENTAL (production) shape —
    // yesterday's corpus already holds half the boilerplate pile
    // (even ids, known only by its wideSignatures table) and today's
    // batch ships the other half (odd ids): representative cross
    // edges, batch stars, near matches through COMBINED-occupancy
    // buckets, survivors via keepCanonical over the batch.
    Query("q384_incremental_text_guard", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 <= 2, lit(BoilerplateText))
            .otherwise(col("text")).as("text"))
        .transform(graft.operators.CacheScope.track)
      val corpusDocs = docs.filter(col("doc_id") % 2 === 0)
      val batchDocs = docs.filter(col("doc_id") % 2 === 1)
        .transform(graft.operators.CacheScope.track)
      val corpusSigs = graft.operators.Dedup.wideSignatures(
        corpusDocs, "doc_id", "text")
      val sat = graft.operators.Dedup.bandSaturationWide(
        docs, "doc_id", "text", maxOccupancy = 32)
      val matches =
        graft.operators.Dedup.simhashMatchesWideIncrementalGuarded(
          batchDocs, "doc_id", "text", corpusSigs,
          maxHamming = 2, maxOccupancy = 32)
        .transform(graft.operators.CacheScope.track)
      val survivors = graft.operators.Components.keepCanonical(
        batchDocs, "doc_id", matches)
      corpusDocs.agg(count(lit(1)).as("n_corpus_sigs"))
        .crossJoin(batchDocs.agg(count(lit(1)).as("n_batch_sigs")))
        .crossJoin(sat.agg(
          sum(col("n_saturated_buckets")).as("n_saturated_buckets"),
          sum(col("n_sigs_in_saturated")).as("n_rows_saturated")))
        .crossJoin(matches.agg(
          count(when(col("hamming") === 0L && col("i") % 2 === 0, 1))
            .as("n_exact_cross"),
          count(when(col("hamming") === 0L && col("i") % 2 =!= 0, 1))
            .as("n_exact_star"),
          count(when(col("hamming") >= 1L && col("i") % 2 === 0, 1))
            .as("n_near_cross"),
          count(when(col("hamming") >= 1L && col("i") % 2 =!= 0, 1))
            .as("n_near_within")))
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
        .orderBy("n_corpus_sigs")
    },
    // Incremental text guard: q383's sig/band/occupancy replay split
    // even→corpus / odd→batch; representative cross edges, batch
    // stars, near matches through combined-unsaturated buckets,
    // survivors via the unrolled CC over all four edge sets.
    oracle =
      s"""WITH ${oWideFloodCtes},
        |cmin AS (
        |  SELECT sig, min(doc_id) AS cm
        |  FROM wide WHERE doc_id % 2 = 0 GROUP BY 1),
        |ec AS MATERIALIZED (
        |  SELECT c.cm AS i, s.doc_id AS j
        |  FROM wide s JOIN cmin c USING (sig)
        |  WHERE s.doc_id % 2 = 1),
        |bgrp AS (
        |  SELECT sig, min(doc_id) AS mn, count(*) AS n
        |  FROM wide WHERE doc_id % 2 = 1 GROUP BY 1),
        |st AS MATERIALIZED (
        |  SELECT g.mn AS i, s.doc_id AS j
        |  FROM bgrp g JOIN wide s USING (sig)
        |  WHERE s.doc_id % 2 = 1 AND g.n >= 2 AND s.doc_id <> g.mn),
        |nc AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        |  FROM bandok a JOIN bandok b
        |    ON a.band = b.band AND a.nib = b.nib
        |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |  WHERE bit_count(xor(a.sig, b.sig)) BETWEEN 1 AND 2),
        |nw AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        |  FROM bandok a JOIN bandok b
        |    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
        |    AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
        |  WHERE bit_count(xor(a.sig, b.sig)) BETWEEN 1 AND 2),
        |esym AS MATERIALIZED (
        |  SELECT i AS u, j AS v FROM (
        |    SELECT i, j FROM ec UNION ALL SELECT i, j FROM st
        |    UNION ALL SELECT i, j FROM nc UNION ALL SELECT i, j FROM nw)
        |  UNION ALL
        |  SELECT j, i FROM (
        |    SELECT i, j FROM ec UNION ALL SELECT i, j FROM st
        |    UNION ALL SELECT i, j FROM nc UNION ALL SELECT i, j FROM nw)),
        |enodes AS (SELECT DISTINCT u AS node FROM esym),
        |${oUnrolledCcCtes("a", "enodes", "esym")}
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM wide WHERE doc_id % 2 = 0)
        |    AS n_corpus_sigs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM wide WHERE doc_id % 2 = 1)
        |    AS n_batch_sigs,
        |  (SELECT CAST(count(CASE WHEN occ > 32 THEN 1 END) AS BIGINT)
        |   FROM occ) AS n_saturated_buckets,
        |  (SELECT CAST(coalesce(sum(CASE WHEN occ > 32 THEN occ END), 0)
        |     AS BIGINT) FROM occ) AS n_rows_saturated,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ec) AS n_exact_cross,
        |  (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_exact_star,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nc) AS n_near_cross,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_near_within,
        |  (SELECT CAST(count(*) AS BIGINT) FROM wide WHERE doc_id % 2 = 1)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM alab
        |       WHERE node % 2 = 1 AND component <> node)
        |    + (SELECT poison FROM achg) AS n_survivors
        |ORDER BY n_corpus_sigs""".stripMargin),

    // q385: VIDEO perceptual dedup — the FOURTH modality (round 17):
    // AVI MJPEG frames are baseline JPEGs, so VideoFrameKernel hands
    // each sampled frame chunk to the native JpegKernel and the frame
    // dHash rides the guarded batch-vs-corpus matcher UNCHANGED. The
    // fixture plants byte-unequal RE-MUXED duplicates — the pair
    // (2m, 2m+1) shares its first frame's JPEG bytes but odd docs mux
    // behind a JUNK chunk with 00db ids — the duplicate class only
    // frame-PIXEL hashing catches (byte/digest dedup sees two distinct
    // files). Oracle replays the closed-form DC-only JPEG block
    // values, the area-weighted dHash cells, the 4×16-bit banding +
    // occupancy rule, and the CC survivors arithmetically.
    Query("q385_mjpeg_video_dedup", (s, dir) => {
      val media = payloads(docIds(s, dir), VideoFixtures.mjpegAvi)
      val sigs = media
        .select(col("doc_id"),
          element_at(graft.functions.videoFrameStats(col("__p"), 1000), 1)
            .getField("dhash").as("dhash"))
        .transform(graft.operators.CacheScope.track)
      val corpusSigs = sigs.filter(col("doc_id") % 2 === 0)
      val batchSigs = sigs.filter(col("doc_id") % 2 === 1)
      val matches =
        graft.operators.Dedup.signatureMatches64IncrementalGuarded(
          batchSigs, "doc_id", "dhash", corpusSigs, "doc_id", "dhash",
          maxHamming = 2, maxOccupancy = 32)
        .transform(graft.operators.CacheScope.track)
      val survivors = graft.operators.Components.keepCanonical(
        batchSigs.filter(col("dhash").isNotNull), "doc_id", matches)
      corpusSigs.agg(count(lit(1)).as("n_corpus_rows"),
          count(col("dhash")).as("n_corpus_sigs"))
        .crossJoin(batchSigs.agg(count(lit(1)).as("n_batch_rows"),
          count(col("dhash")).as("n_batch_sigs")))
        .crossJoin(matches.agg(
          count(when(col("hamming") === 0L && col("i") % 2 === 0, 1))
            .as("n_exact_cross"),
          count(when(col("hamming") === 0L && col("i") % 2 =!= 0, 1))
            .as("n_exact_star"),
          count(when(col("hamming") >= 1L && col("i") % 2 === 0, 1))
            .as("n_near_cross"),
          count(when(col("hamming") >= 1L && col("i") % 2 =!= 0, 1))
            .as("n_near_within")))
        .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
        .orderBy("n_corpus_rows")
    },
    // MJPEG video dedup: first-frame dHash replayed from the DC-only
    // JPEG closed form (q372's pinned-IDCT contract) over the shared
    // pair seed sp = doc_id - doc_id % 2, area-weighted 9×8 cells,
    // guarded batch-vs-corpus matching (representative cross edges,
    // batch stars, combined-occupancy near rule), unrolled-CC
    // survivors. Truncated payloads (doc % 10 = 9) have no signature.
    oracle =
      s"""WITH d AS (
        |  SELECT doc_id, sp, sp % 24 + 72 AS w, (sp * 5) % 24 + 64 AS h
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 12 IN (4, 5, 8, 10) THEN 5000011 + doc_id
        |        WHEN doc_id % 12 IN (9, 11) THEN 7000019 + doc_id // 12
        |        ELSE doc_id - doc_id % 2 END AS sp
        |    FROM documents WHERE doc_id % 10 <> 9)),
        |bv AS (
        |  SELECT doc_id, bx, by,
        |    CASE WHEN f < -128 THEN 0 WHEN f > 127 THEN 255
        |      ELSE f + 128 END AS val
        |  FROM (
        |    SELECT doc_id, bx, by,
        |      CAST(floor((dc * 8 * 2096704 + 8388608) / 16777216.0)
        |        AS BIGINT) AS f
        |    FROM (
        |      SELECT doc_id, u.bx AS bx, u.by AS by,
        |        ((u.bx + sp % 31) * (u.by + sp % 37) * 3 + sp)
        |          % 256 - 128 AS dc
        |      FROM (
        |        SELECT doc_id, sp,
        |          unnest(flatten(list_transform(range((h + 7) // 8),
        |            by -> list_transform(range((w + 7) // 8), bx ->
        |              {'bx': bx, 'by': by})))) AS u
        |        FROM d)))),
        |xm AS (
        |  SELECT doc_id, cx, bx,
        |    least(x1, 8 * bx + 7) - greatest(x0, 8 * bx) + 1 AS nx,
        |    x1 - x0 + 1 AS tx
        |  FROM (
        |    SELECT doc_id, u.cx AS cx, u.bx AS bx,
        |      (u.cx * w + 8) // 9 AS x0, ((u.cx + 1) * w - 1) // 9 AS x1
        |    FROM (
        |      SELECT doc_id, w,
        |        unnest(flatten(list_transform(range(9), cx ->
        |          list_transform(range((w + 7) // 8), bx ->
        |            {'cx': cx, 'bx': bx})))) AS u
        |      FROM d))
        |  WHERE least(x1, 8 * bx + 7) >= greatest(x0, 8 * bx)),
        |ym AS (
        |  SELECT doc_id, cy, by,
        |    least(y1, 8 * by + 7) - greatest(y0, 8 * by) + 1 AS ny,
        |    y1 - y0 + 1 AS ty
        |  FROM (
        |    SELECT doc_id, u.cy AS cy, u.by AS by,
        |      (u.cy * h + 7) // 8 AS y0, ((u.cy + 1) * h - 1) // 8 AS y1
        |    FROM (
        |      SELECT doc_id, h,
        |        unnest(flatten(list_transform(range(8), cy ->
        |          list_transform(range((h + 7) // 8), by ->
        |            {'cy': cy, 'by': by})))) AS u
        |      FROM d))
        |  WHERE least(y1, 8 * by + 7) >= greatest(y0, 8 * by)),
        |cells AS (
        |  SELECT b.doc_id, x.cx, y.cy,
        |    (1000 * sum(b.val * x.nx * y.ny)) // (x.tx * y.ty) AS cavg
        |  FROM bv b
        |  JOIN xm x ON x.doc_id = b.doc_id AND x.bx = b.bx
        |  JOIN ym y ON y.doc_id = b.doc_id AND y.by = b.by
        |  GROUP BY 1, 2, 3, x.tx, y.ty),
        |${oDhashBits(Seq("doc_id"), "kk")},
        |sig AS MATERIALIZED (
        |  SELECT d.doc_id, coalesce(x.hraw, 0) AS hraw,
        |    ${oSignedHash("x.hraw", "dhash")}
        |  FROM d LEFT JOIN (
        |    SELECT doc_id, sum(CAST(1 AS HUGEINT) << CAST(kk AS INT))
        |      AS hraw
        |    FROM bits GROUP BY 1) x USING (doc_id)),
        |$oSigBandCtes,
        |$oGuardedMatchCtes
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0) AS n_corpus_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 0)
        |    AS n_corpus_sigs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 1) AS n_batch_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 1)
        |    AS n_batch_sigs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ec) AS n_exact_cross,
        |  (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_exact_star,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nc) AS n_near_cross,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_near_within,
        |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 1)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM alab
        |       WHERE node % 2 = 1 AND component <> node)
        |    + (SELECT poison FROM achg) AS n_survivors
        |ORDER BY n_corpus_rows""".stripMargin),

    // q374: the round-15 CAPSTONE — a compressed-shard curation
    // increment as ONE plan, composing every piece the round built:
    // .tar.zst shards (zstd_decode → tar_members, corruption planted
    // at BOTH layers) carrying JPEG samples (the native JpegKernel's
    // pinned-IDCT pixels → dHash), deduplicated INCREMENTALLY against
    // yesterday's corpus (signatureMatches64Incremental: even docs =
    // corpus known only by its signature table, odd docs = today's
    // batch), keepCanonical over the batch, union-append refresh. The
    // oracle replays the whole chain arithmetically: tar layout →
    // closed-form JPEG block values → per-image dHash flood → pair
    // sets → CC → survivors.
    Query("q374_compressed_shard_dedup", (s, dir) =>
      incrementalImageDedup(s, dir, TarFixtures.jpegShardPayload,
        shards => shards
          .select(col("doc_id"),
            graft.functions.zstdDecode(col("__p")).as("__t"))
          .select(col("doc_id"), col("__t"),
            explode(graft.functions.tarMembers(col("__t"))).as("__m"))
          .filter(col("__m.name").endsWith(".jpg"))
          .select((col("doc_id") * 8L +
              regexp_extract(col("__m.name"), "_(\\d+)\\.", 1)
                .cast("long")).as("img_id"),
            graft.functions.pixelStats(
              col("__t").substr(col("__m.offset") + 1L, col("__m.size")))
              .getField("dhash").as("dhash")),
        exactMatches),
    // The compressed-shard capstone: q366's incremental structure with
    // q372's closed-form JPEG block values, both corruption layers
    // excluded up front (tar truncation %10==9, frame truncation
    // %11==7 — a corrupt shard contributes no images).
    //
    // ORACLE BUDGET (round 16): the round-15 form materialized one row
    // per PIXEL (w×h ≈ 8,000/image) and ran a recursive
    // connected-components CTE — measured >15 min / ~45 GB in DuckDB
    // for 500 docs, which zeroed the driver's whole CORRECTNESS_r15
    // artifact. This form is arithmetically identical (verified equal
    // on 24/60/120-doc subsets) but closed-form:
    //  * blocks are DC-only constant, so each 9×8 dHash cell average
    //    is the area-weighted average of the ≤9 overlapping blocks —
    //    the xm/ym axis maps carry pixel-overlap counts (nx, ny) and
    //    cell totals (tx, ty), so sum(lum)//count(*) becomes
    //    1000·Σ val·nx·ny // (tx·ty) over ~648 rows/image, never w×h;
    //  * maxHamming = 0 makes hash equality the edge relation, which
    //    is transitive — a connected component IS an equal-dhash
    //    group, so pair counts and canonical survivors come from one
    //    GROUP BY dhash (cross = nc·nb, within = C(nb,2), survivor =
    //    isolated batch row or group-min img_id), no recursion.
    // Full 500-doc runtime: ~1 s.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 3 + 2 AS s
         |  FROM documents
         |  WHERE doc_id % 10 <> 9 AND doc_id % 11 <> 7),
         |pq AS (
         |  SELECT doc_id, k, sp,
         |    sp % 24 + 72 AS w, (sp * 5) % 24 + 64 AS h
         |  FROM (
         |    SELECT doc_id, k,
         |      CASE WHEN k = 0 THEN 4 * (doc_id - doc_id % 2)
         |        WHEN k = 1 AND doc_id % 4 = 3 THEN 4 * (doc_id - 2) + 1
         |        ELSE 4 * doc_id + k END AS sp
         |    FROM (SELECT doc_id, unnest(range(s)) AS k FROM d))),
         |bv AS (
         |  SELECT doc_id, k, bx, by,
         |    CASE WHEN f < -128 THEN 0 WHEN f > 127 THEN 255
         |      ELSE f + 128 END AS val
         |  FROM (
         |    SELECT doc_id, k, bx, by,
         |      CAST(floor((dc * 8 * 2096704 + 8388608) / 16777216.0)
         |        AS BIGINT) AS f
         |    FROM (
         |      SELECT doc_id, k, u.bx AS bx, u.by AS by,
         |        ((u.bx + sp % 31) * (u.by + sp % 37) * 3 + sp)
         |          % 256 - 128 AS dc
         |      FROM (
         |        SELECT doc_id, k, sp,
         |          unnest(flatten(list_transform(range((h + 7) // 8),
         |            by -> list_transform(range((w + 7) // 8), bx ->
         |              {'bx': bx, 'by': by})))) AS u
         |        FROM pq)))),
         |xm AS (
         |  SELECT doc_id, k, cx, bx,
         |    least(x1, 8 * bx + 7) - greatest(x0, 8 * bx) + 1 AS nx,
         |    x1 - x0 + 1 AS tx
         |  FROM (
         |    SELECT doc_id, k, u.cx AS cx, u.bx AS bx,
         |      (u.cx * w + 8) // 9 AS x0, ((u.cx + 1) * w - 1) // 9 AS x1
         |    FROM (
         |      SELECT doc_id, k, w,
         |        unnest(flatten(list_transform(range(9), cx ->
         |          list_transform(range((w + 7) // 8), bx ->
         |            {'cx': cx, 'bx': bx})))) AS u
         |      FROM pq))
         |  WHERE least(x1, 8 * bx + 7) >= greatest(x0, 8 * bx)),
         |ym AS (
         |  SELECT doc_id, k, cy, by,
         |    least(y1, 8 * by + 7) - greatest(y0, 8 * by) + 1 AS ny,
         |    y1 - y0 + 1 AS ty
         |  FROM (
         |    SELECT doc_id, k, u.cy AS cy, u.by AS by,
         |      (u.cy * h + 7) // 8 AS y0, ((u.cy + 1) * h - 1) // 8 AS y1
         |    FROM (
         |      SELECT doc_id, k, h,
         |        unnest(flatten(list_transform(range(8), cy ->
         |          list_transform(range((h + 7) // 8), by ->
         |            {'cy': cy, 'by': by})))) AS u
         |      FROM pq))
         |  WHERE least(y1, 8 * by + 7) >= greatest(y0, 8 * by)),
         |cells AS (
         |  SELECT b.doc_id, b.k, x.cx, y.cy,
         |    (1000 * sum(b.val * x.nx * y.ny)) // (x.tx * y.ty) AS cavg
         |  FROM bv b
         |  JOIN xm x ON x.doc_id = b.doc_id AND x.k = b.k AND x.bx = b.bx
         |  JOIN ym y ON y.doc_id = b.doc_id AND y.k = b.k AND y.by = b.by
         |  GROUP BY 1, 2, 3, 4, x.tx, y.ty),
         |${oDhashBits(Seq("doc_id", "k"), "kk")},
         |sig AS (
         |  SELECT pq.doc_id, pq.doc_id * 8 + pq.k AS img_id,
         |    ${oSignedHash("x.hraw", "dhash")}
         |  FROM pq LEFT JOIN (
         |    SELECT doc_id, k, sum(CAST(1 AS HUGEINT) << CAST(kk AS INT))
         |      AS hraw
         |    FROM bits GROUP BY 1, 2) x
         |    ON x.doc_id = pq.doc_id AND x.k = pq.k),
         |g AS (
         |  SELECT dhash, min(img_id) AS mn, count(*) AS n,
         |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS nc,
         |    sum(doc_id % 2) AS nb
         |  FROM sig GROUP BY dhash),
         |bat AS (SELECT img_id, dhash FROM sig WHERE doc_id % 2 = 1),
         |surv AS (
         |  SELECT b.img_id FROM bat b JOIN g ON g.dhash = b.dhash
         |  WHERE g.n = 1 OR b.img_id = g.mn)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 0)
         |    AS n_corpus_sigs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bat) AS n_batch_images,
         |  (SELECT CAST(count(dhash) AS BIGINT) FROM bat)
         |    AS n_batch_hashed,
         |  (SELECT CAST(coalesce(sum(nc * nb), 0) AS BIGINT) FROM g)
         |    AS n_cross_pairs,
         |  (SELECT CAST(coalesce(sum(nb * (nb - 1) // 2), 0) AS BIGINT)
         |   FROM g) AS n_within_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM surv)
         |    AS n_batch_survivors,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 0)
         |    + (SELECT CAST(count(*) AS BIGINT) FROM surv)
         |    AS n_total_sigs
         |ORDER BY n_corpus_sigs""".stripMargin),

    // q375: INCREMENTAL audio dedup — the same batch-vs-corpus
    // machinery as images (signatureMatches64Incremental is 64-bit-
    // signature-generic), driven by the envelope hash: even docs are
    // yesterday's corpus (known only by its (doc_id, ahash) table),
    // odd docs today's batch. The q367 fixture's planted transcode
    // pairs (3f, 3f+1) are consecutive ids — ALWAYS opposite parity —
    // so every planted duplicate is a CROSS corpus↔batch pair, the
    // shape an ingest increment actually deduplicates.
    Query("q375_incremental_audio_dedup", (s, dir) => {
      // Compiled payload writer (see q367 / AudioDedupPayloadSpec), and
      // the signature table is cached ONCE with the parity branches
      // filtered from the cache: construction is a mapPartitions
      // barrier now, so per-branch caches would construct+hash every
      // doc twice (the old expression shape pushed each branch's
      // parity filter below the construction; a barrier blocks that).
      val sigs = payloads(spreadIds(t(s, dir, "documents")),
        AudioFixtures.dedupPayload)
        .select(col("doc_id"),
          graft.functions.audioHash(col("__p")).as("ahash"))
        .transform(graft.operators.CacheScope.track)
      val corpusSigs = sigs.filter(col("doc_id") % 2 === 0)
      val batchSigs = sigs.filter(col("doc_id") % 2 === 1)
      val matches = graft.operators.Dedup.signatureMatches64Incremental(
        batchSigs, "doc_id", "ahash", corpusSigs, "doc_id", "ahash",
        maxHamming = 2)
        .transform(graft.operators.CacheScope.track)
      val survivors = graft.operators.Components.keepCanonical(
        batchSigs.filter(col("ahash").isNotNull), "doc_id", matches)
      corpusSigs.agg(count(lit(1)).as("n_corpus_rows"),
          count(col("ahash")).as("n_corpus_sigs"))
        .crossJoin(batchSigs.agg(count(lit(1)).as("n_batch_rows"),
          count(col("ahash")).as("n_batch_sigs")))
        .crossJoin(matches.agg(
          count(when(pmod(col("i"), lit(2L)) === 0L, 1))
            .as("n_cross_pairs"),
          count(when(pmod(col("i"), lit(2L)) =!= 0L, 1))
            .as("n_within_pairs")))
        .crossJoin(survivors.agg(count(lit(1)).as("n_batch_survivors")))
        .orderBy("n_corpus_rows")
    },
    // Incremental audio dedup: the q367 envelope-hash replay split
    // even→corpus / odd→batch, Hamming-≤2 cross and within pair sets,
    // survivors over the HASHED batch (an undecodable clip has no
    // perceptual identity — quarantined upstream, never "kept").
    oracle =
      s"""WITH RECURSIVE $oAudioSigCtes,
         |cor AS (SELECT doc_id, ahash FROM sig WHERE doc_id % 2 = 0),
         |bat AS (SELECT doc_id, ahash FROM sig WHERE doc_id % 2 = 1),
         |cp AS (
         |  SELECT c.doc_id AS i, b.doc_id AS j
         |  FROM cor c JOIN bat b
         |    ON bit_count(xor(c.ahash, b.ahash)) <= 2),
         |wp AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM bat a JOIN bat b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.ahash, b.ahash)) <= 2),
         |p AS (SELECT i, j FROM cp UNION SELECT i, j FROM wp),
         |${oPairFloodCtes("UNION")},
         |surv AS (
         |  SELECT b.doc_id FROM bat b LEFT JOIN l ON l.node = b.doc_id
         |  WHERE l.node IS NULL OR l.component = b.doc_id)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 2 = 0) AS n_corpus_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cor) AS n_corpus_sigs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |   WHERE doc_id % 2 = 1) AS n_batch_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bat) AS n_batch_sigs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cp) AS n_cross_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM wp) AS n_within_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM surv)
         |    AS n_batch_survivors
         |ORDER BY n_corpus_rows""".stripMargin),
  )

  /** The q380/q382 guarded image dedup over the flood fixture: even
    * docs' dHashes are the corpus, odd docs' the batch;
    * `matchesOf(batchSigs, corpusSigs)` is the occupancy-guarded
    * matcher. Survivors are the hashed batch rows keepCanonical keeps,
    * and the one report row counts saturation, every edge kind and the
    * survivors.
    */
  private def guardedFloodDedup(s: SparkSession, dir: String,
      matchesOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val media = payloads(docIds(s, dir), PixelFixtures.floodPayload)
    val sigs = media
      .select(col("doc_id"),
        graft.functions.pixelStats(col("__p"))
          .getField("dhash").as("dhash"))
      .transform(graft.operators.CacheScope.track)
    val corpusSigs = sigs.filter(col("doc_id") % 2 === 0)
    val batchSigs = sigs.filter(col("doc_id") % 2 === 1)
    val sat = graft.operators.Dedup.bandSaturation(
      sigs, "doc_id", "dhash", maxOccupancy = 32)
    val matches = matchesOf(batchSigs, corpusSigs)
      .transform(graft.operators.CacheScope.track)
    val survivors = graft.operators.Components.keepCanonical(
      batchSigs.filter(col("dhash").isNotNull), "doc_id", matches)
    corpusSigs.agg(count(col("dhash")).as("n_corpus_sigs"))
      .crossJoin(batchSigs.agg(count(col("dhash")).as("n_batch_sigs")))
      .crossJoin(sat.agg(
        sum(col("n_saturated_buckets")).as("n_saturated_buckets"),
        sum(col("n_sigs_in_saturated")).as("n_rows_saturated")))
      .crossJoin(matches.agg(
        count(when(col("hamming") === 0L && col("i") % 2 === 0, 1))
          .as("n_exact_cross"),
        count(when(col("hamming") === 0L && col("i") % 2 =!= 0, 1))
          .as("n_exact_star"),
        count(when(col("hamming") >= 1L && col("i") % 2 === 0, 1))
          .as("n_near_cross"),
        count(when(col("hamming") >= 1L && col("i") % 2 =!= 0, 1))
          .as("n_near_within")))
      .crossJoin(survivors.agg(count(lit(1)).as("n_survivors")))
      .orderBy("n_corpus_sigs")
  }

  /** The q366/q373/q374 incremental image dedup over tar shards: even
    * docs' shards are the corpus, odd docs' the batch. `sigs` turns
    * shards into `(img_id, dhash)` rows with img_id = doc·8 + k, k ≤ 3;
    * `matchesOf(batchSigs, corpusSigs)` finds the batch's pairs. Batch
    * survivors (keepCanonical) are appended to the corpus, and the one
    * report row counts every stage.
    */
  private def incrementalImageDedup(s: SparkSession, dir: String,
      payload: Long => Array[Byte], sigs: DataFrame => DataFrame,
      matchesOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // parity filter BEFORE the mapPartitions barrier: a filter cannot
    // push through the opaque constructor, so filtering one payload
    // table would build every payload twice (once per side)
    def media(par: Int): DataFrame = payloads(
      spreadIds(t(s, dir, "documents").filter(col("doc_id") % 2 === par)),
      payload)
    val corpusSigs = sigs(media(0))
      .transform(graft.operators.CacheScope.track)
    val batchSigs = sigs(media(1))
      .transform(graft.operators.CacheScope.track)
    val matches = matchesOf(batchSigs, corpusSigs)
      .transform(graft.operators.CacheScope.track)
    val survivors = graft.operators.Components.keepCanonical(
      batchSigs, "img_id", matches)
      .transform(graft.operators.CacheScope.track)
    val refreshed = corpusSigs.unionByName(survivors)
    // bit 3 of img_id is the doc's parity bit, so a pair row's origin
    // reads off i's bit 3 (cross rows carry i = corpus id = even doc)
    corpusSigs.agg(count(lit(1)).as("n_corpus_sigs"))
      .crossJoin(batchSigs.agg(count(lit(1)).as("n_batch_images"),
        count(col("dhash")).as("n_batch_hashed")))
      .crossJoin(matches.agg(
        count(when(col("i").bitwiseAND(lit(8L)) === 0L, 1))
          .as("n_cross_pairs"),
        count(when(col("i").bitwiseAND(lit(8L)) =!= 0L, 1))
          .as("n_within_pairs")))
      .crossJoin(survivors.agg(count(lit(1)).as("n_batch_survivors")))
      .crossJoin(refreshed.agg(count(lit(1)).as("n_total_sigs")))
      .orderBy("n_corpus_sigs")
  }

  /** Shard → `(img_id, dhash)` for the BMP members of a q366 tar shard. */
  private def bmpMemberSigs(shards: DataFrame): DataFrame = shards
    .select(col("doc_id"), col("__p"),
      explode(graft.functions.tarMembers(col("__p"))).as("__m"))
    .filter(col("__m.name").endsWith(".bmp"))
    .select((col("doc_id") * 8L +
        regexp_extract(col("__m.name"), "_(\\d+)\\.", 1)
          .cast("long")).as("img_id"),
      graft.functions.pixelStats(
        col("__p").substr(col("__m.offset") + 1L, col("__m.size")))
        .getField("dhash").as("dhash"))

  /** Exact-hash batch-vs-corpus matches (q366, q374). */
  private def exactMatches(batchSigs: DataFrame,
                           corpusSigs: DataFrame): DataFrame =
    graft.operators.Dedup.signatureMatches64Incremental(
      batchSigs, "img_id", "dhash", corpusSigs, "img_id", "dhash",
      maxHamming = 0)

  /** q367's constructed WAV trio per doc family f = ⌊doc/3⌋ (mono,
    * 8 kHz, n = f%90+80 samples — always ≥ 65 so the envelope hash is
    * defined):
    *   v=0 (doc ≡ 0 mod 3): G.711 μ-law, code bytes
    *       c(i) = (i²·(f%13+3) + i·37 + (f//13)·(i%11) + f·11 + 1)
    *       % 256 — the QUADRATIC term and the two independent f mixes
    *       matter (q342 dHash-diversity lesson, relearned on audio: a
    *       pure i·37+phase stream is one fixed cycle rotated, giving
    *       ≤ 256·90 distinct streams whose envelope hashes cluster
    *       within small Hamming balls — measured 3636 pairs at sf0.1
    *       against ~1350 planted before this form);
    *   v=1: the PCM-16 TRANSCODE of v=0 — samples are exactly
    *       ulaw2linear(c(i)) (the decode-then-store round trip a
    *       format-normalizing pipeline produces): byte-unequal
    *       payloads, different codecs, IDENTICAL linear samples,
    *       identical envelope hash — the planted re-encode duplicate;
    *   v=2: PCM-16 s(i) = (i²·1997 + i·523 + (doc%251)·(i%17)·64 +
    *       doc·31) % 65536 − 32768 — unique audio. Both non-linear
    *       terms matter: a LINEAR ramp's |s| is piecewise monotone
    *       (envelope = a few long sign runs), and without the
    *       (doc%251)·(i%17) mix two docs differ by a CONSTANT offset
    *       before the wrap — a value-space rotation that preserves
    *       most window comparisons (measured: 511 chance v2–v2 pairs
    *       at sf0.1 with the offset-only form, 0 with this one).
    * The μ-law expansion here is the public CCITT formula re-spelled
    * in Column arithmetic — construction shares no code with
    * [[graft.expressions.PcmKernel]]'s decode side. doc%10==9
    * truncates mid-data → NULL (the hash drops from banding).
    */
  private[graft] def audioDedupPayload(docId: Column): Column = {
    val f = ((docId - pmod(docId, lit(3L))) / lit(3L)).cast("long")
    val v = pmod(docId, lit(3L))
    val n = pmod(f, lit(90L)) + 80L
    def hxp(c: Column, digits: Int) = lpad(hex(c), digits, "0")
    def le16(c: Column) = {
      val x = hxp(c, 4)
      concat(substring(x, 3, 2), substring(x, 1, 2))
    }
    def le32(c: Column) = {
      val x = hxp(c, 8)
      concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2))
    }
    def code(i: Column): Column = pmod(
      i * i * (pmod(f, lit(13L)) + 3L) + i * 37L +
        ((f - pmod(f, lit(13L))) / lit(13L)).cast("long") * pmod(i, lit(11L)) +
        f * 11L + 1L, lit(256L))
    def ulawLin(c: Column): Column = {
      val u = lit(255L) - c
      val seg = pmod(shiftright(u, 4), lit(8L))
      val pow2 = when(seg === 0, 1L).when(seg === 1, 2L)
        .when(seg === 2, 4L).when(seg === 3, 8L).when(seg === 4, 16L)
        .when(seg === 5, 32L).when(seg === 6, 64L).otherwise(128L)
      val t = (pmod(u, lit(16L)) * 8L + 132L) * pow2
      when(u >= 128L, lit(132L) - t).otherwise(t - 132L)
    }
    def ramp(i: Column): Column =
      pmod(i * i * 1997L + i * 523L +
        pmod(docId, lit(251L)) * pmod(i, lit(17L)) * 64L +
        docId * 31L, lit(65536L)) - 32768L
    def pcmHex(s: Column => Column): Column = array_join(
      transform(sequence(lit(0L), n - 1),
        i => le16(pmod(s(i), lit(65536L)))), "")
    val dataHex = when(v === 0, array_join(
        transform(sequence(lit(0L), n - 1), i => hxp(code(i), 2)), ""))
      .when(v === 1, pcmHex(i => ulawLin(code(i))))
      .otherwise(pcmHex(ramp))
    val dataLen = when(v === 0, n).otherwise(n * 2L)
    val wav = unhex(concat(
      lit("52494646"), le32(dataLen + 36L),
      lit("57415645" + "666D7420" + "10000000"),
      when(v === 0, lit("0700")).otherwise(lit("0100")), lit("0100"),
      le32(lit(8000L)),
      le32(when(v === 0, lit(8000L)).otherwise(lit(16000L))),
      when(v === 0, lit("0100")).otherwise(lit("0200")),
      when(v === 0, lit("0800")).otherwise(lit("1000")),
      lit("64617461"), le32(dataLen), dataHex))
    when(pmod(docId, lit(10L)) === 9,
      wav.substr(lit(1), lit(44L) + n - when(v === 0, 10L).otherwise(0L)))
      .otherwise(wav)
  }

  /** The q383/q384 boilerplate flood text — one constant string 60% of
    * the corpus is rewritten to, so the whole flood folds to a single
    * wide simhash (lowercase letters + spaces only: tokenizes
    * identically in both engines).
    */
  private val BoilerplateText: String =
    "this website uses cookies to improve your experience please " +
      "accept our cookie policy to continue browsing"

  /** Shared q383/q384 oracle CTE chain: flooded documents → the two
    * 28-bit simhash halves → wide 56-bit signature → 14-bit band rows
    * → per-bucket occupancy and the ≤ 32 rule. Ends with `bandok`
    * (band rows through unsaturated buckets only).
    */
  private def oWideFloodCtes: String =
    s"""fd AS (
       |  SELECT doc_id, CASE WHEN doc_id % 5 <= 2
       |    THEN '$BoilerplateText'
       |    ELSE text END AS text
       |  FROM documents),
       |${oSimhashCte("sh31", 31, src = "fd")},
       |${oSimhashCte("sh37", 37, seed = 1, src = "fd")},
       |wide AS MATERIALIZED (
       |  SELECT a.doc_id,
       |    a.sig + b.sig * ${1L << graft.operators.TextAnalysis.SimHashBits}
       |      AS sig
       |  FROM sh31 a JOIN sh37 b USING (doc_id)),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, sig, b.band AS band,
       |    (sig // [1, 16384, 268435456, 4398046511104]
       |      [CAST(b.band AS INT) + 1]) % 16384 AS nib
       |  FROM wide, (SELECT unnest(range(4)) AS band) b),
       |occ AS (
       |  SELECT band, nib, count(*) AS occ
       |  FROM bands GROUP BY 1, 2),
       |okb AS (SELECT band, nib FROM occ WHERE occ <= 32),
       |bandok AS MATERIALIZED (
       |  SELECT b.doc_id, b.band, b.nib, b.sig
       |  FROM bands b JOIN okb USING (band, nib))""".stripMargin

  /** The q366/q373 SHARED incremental-image-dedup oracle — the
    * bucketed-signature-table query must hash IDENTICALLY to the
    * session-built one, so they grade against one SQL string.
    */
  private val oIncrementalImageDedupSql: String =
    s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, doc_id % 3 + 2 AS s
         |  FROM documents WHERE doc_id % 10 <> 9),
         |pq AS (
         |  SELECT doc_id, k, sp, sp % 24 + 9 AS w, (sp * 5) % 24 + 8 AS h
         |  FROM (
         |    SELECT doc_id, k,
         |      CASE WHEN k = 0 THEN 4 * (doc_id - doc_id % 2)
         |        WHEN k = 1 AND doc_id % 4 = 3 THEN 4 * (doc_id - 2) + 1
         |        ELSE 4 * doc_id + k END AS sp
         |    FROM (SELECT doc_id, unnest(range(s)) AS k FROM d))),
         |lum AS (
         |  SELECT doc_id, k, w, h, u.x AS x, u.y AS y,
         |    299 * u.p + 587 * ((u.p * 3) % 256)
         |      + 114 * ((u.p * 5) % 256) AS lum
         |  FROM (
         |    SELECT doc_id, k, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + sp % 31) * (y + sp % 37) * 3 + sp)
         |                % 256})))) AS u
         |    FROM pq)),
         |${oDhashCtes(Seq("doc_id", "k"), "kk")},
         |sig AS (
         |  SELECT pq.doc_id, pq.doc_id * 8 + pq.k AS img_id,
         |    ${oSignedHash("x.hraw", "dhash")}
         |  FROM pq LEFT JOIN (
         |    SELECT doc_id, k, sum(CAST(1 AS HUGEINT) << CAST(kk AS INT))
         |      AS hraw
         |    FROM bits GROUP BY 1, 2) x
         |    ON x.doc_id = pq.doc_id AND x.k = pq.k),
         |cor AS (SELECT img_id, dhash FROM sig WHERE doc_id % 2 = 0),
         |bat AS (SELECT img_id, dhash FROM sig WHERE doc_id % 2 = 1),
         |cp AS (
         |  SELECT c.img_id AS i, b.img_id AS j
         |  FROM cor c JOIN bat b ON c.dhash = b.dhash
         |  WHERE c.dhash IS NOT NULL),
         |wp AS (
         |  SELECT a.img_id AS i, b.img_id AS j
         |  FROM bat a JOIN bat b
         |    ON a.img_id < b.img_id AND a.dhash = b.dhash
         |  WHERE a.dhash IS NOT NULL),
         |p AS (SELECT i, j FROM cp UNION SELECT i, j FROM wp),
         |${oPairFloodCtes("UNION")},
         |surv AS (
         |  SELECT b.img_id FROM bat b LEFT JOIN l ON l.node = b.img_id
         |  WHERE l.node IS NULL OR l.component = b.img_id)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM cor) AS n_corpus_sigs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bat) AS n_batch_images,
         |  (SELECT CAST(count(dhash) AS BIGINT) FROM bat)
         |    AS n_batch_hashed,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cp) AS n_cross_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM wp) AS n_within_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM surv)
         |    AS n_batch_survivors,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cor)
         |    + (SELECT CAST(count(*) AS BIGINT) FROM surv)
         |    AS n_total_sigs
         |ORDER BY n_corpus_sigs""".stripMargin

  /** The 16-bit LSH `bands` of the unsigned `sig.hraw`, their occupancy
    * `occ`, the unsaturated buckets `okb` (occupancy <= 32) and
    * `bandok`, the band rows in them (q378, q380, q385).
    */
  private def oSigBandCtes: String =
    """bands AS MATERIALIZED (
      |  SELECT doc_id, dhash, b.band AS band,
      |    CAST((hraw // CAST([1, 65536, 4294967296, 281474976710656]
      |      [CAST(b.band AS INT) + 1] AS HUGEINT)) % 65536 AS BIGINT)
      |      AS nib
      |  FROM sig, (SELECT unnest(range(4)) AS band) b),
      |occ AS (
      |  SELECT band, nib, count(*) AS occ
      |  FROM bands GROUP BY 1, 2),
      |okb AS (SELECT band, nib FROM occ WHERE occ <= 32),
      |bandok AS MATERIALIZED (
      |  SELECT b.doc_id, b.band, b.nib, b.dhash
      |  FROM bands b JOIN okb USING (band, nib))""".stripMargin

  /** The guarded batch-vs-corpus matcher over `sig` (even docs corpus,
    * odd docs batch) and `bandok`: representative cross edges `ec`,
    * batch stars `st`, near cross `nc` and near within-batch `nw` pairs
    * through unsaturated buckets, and the unrolled CC over all four
    * (q380, q385).
    */
  private def oGuardedMatchCtes: String =
    s"""cmin AS (
       |  SELECT dhash, min(doc_id) AS cm
       |  FROM sig WHERE doc_id % 2 = 0 GROUP BY 1),
       |ec AS MATERIALIZED (
       |  SELECT c.cm AS i, s.doc_id AS j
       |  FROM sig s JOIN cmin c USING (dhash)
       |  WHERE s.doc_id % 2 = 1),
       |bgrp AS (
       |  SELECT dhash, min(doc_id) AS mn, count(*) AS n
       |  FROM sig WHERE doc_id % 2 = 1 GROUP BY 1),
       |st AS MATERIALIZED (
       |  SELECT g.mn AS i, s.doc_id AS j
       |  FROM bgrp g JOIN sig s USING (dhash)
       |  WHERE s.doc_id % 2 = 1 AND g.n >= 2 AND s.doc_id <> g.mn),
       |nc AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bandok a JOIN bandok b
       |    ON a.band = b.band AND a.nib = b.nib
       |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
       |  WHERE bit_count(xor(a.dhash, b.dhash)) BETWEEN 1 AND 2),
       |nw AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM bandok a JOIN bandok b
       |    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
       |    AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
       |  WHERE bit_count(xor(a.dhash, b.dhash)) BETWEEN 1 AND 2),
       |esym AS MATERIALIZED (
       |  SELECT i AS u, j AS v FROM (
       |    SELECT i, j FROM ec UNION ALL SELECT i, j FROM st
       |    UNION ALL SELECT i, j FROM nc UNION ALL SELECT i, j FROM nw)
       |  UNION ALL
       |  SELECT j, i FROM (
       |    SELECT i, j FROM ec UNION ALL SELECT i, j FROM st
       |    UNION ALL SELECT i, j FROM nc UNION ALL SELECT i, j FROM nw)),
       |enodes AS (SELECT DISTINCT u AS node FROM esym),
       |${oUnrolledCcCtes("a", "enodes", "esym")}""".stripMargin

  /** The q378/q380 flood-image CTE chain: `d` (flood docs %5 <= 2 are
    * flat images), `lum`, the dHash CTEs, `sig` (flood docs hash to 0),
    * the 16-bit `bands` of the unsigned hash, `occ`, the unsaturated
    * buckets `okb` (occupancy <= 32) and `bandok`, the band rows in them.
    */
  private val oFloodImageBandCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id % 5 <= 2 AS flood,
       |    doc_id - (doc_id % 2) AS pid, doc_id % 2 = 1 AS edited,
       |    (doc_id - (doc_id % 2)) % 24 + 9 AS w,
       |    ((doc_id - (doc_id % 2)) * 5) % 24 + 8 AS h
       |  FROM documents),
       |lum AS (
       |  SELECT doc_id, w, h, u.x AS x, u.y AS y,
       |    (CASE WHEN edited AND u.x = 0 AND u.y = 0
       |      THEN (((u.x + pid % 31) * (u.y + pid % 37) * 3 + pid)
       |            % 256 + 128) % 256
       |      ELSE ((u.x + pid % 31) * (u.y + pid % 37) * 3 + pid)
       |           % 256 END) * 1000 AS lum
       |  FROM (
       |    SELECT doc_id, pid, edited, w, h,
       |      unnest(flatten(list_transform(range(h), y ->
       |        list_transform(range(w), x -> {'x': x, 'y': y})))) AS u
       |    FROM d WHERE NOT flood)),
       |${oDhashCtes(Seq("doc_id"), "k")},
       |sig AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CASE WHEN d.flood THEN CAST(0 AS HUGEINT)
       |      ELSE coalesce(dh.hraw, 0) END AS hraw,
       |    CAST(CASE WHEN d.flood THEN CAST(0 AS HUGEINT)
       |        ELSE coalesce(dh.hraw, 0) END
       |      - CASE WHEN (CASE WHEN d.flood THEN CAST(0 AS HUGEINT)
       |          ELSE coalesce(dh.hraw, 0) END) >= 9223372036854775808
       |          THEN 18446744073709551616 ELSE 0 END AS BIGINT)
       |      AS dhash
       |  FROM d LEFT JOIN (
       |    SELECT doc_id,
       |      sum(CAST(1 AS HUGEINT) << CAST(k AS INT)) AS hraw
       |    FROM bits GROUP BY 1) dh USING (doc_id)),
       |$oSigBandCtes""".stripMargin

  /** The q380/q382 SHARED guarded-matcher oracle, the incremental
    * occupancy guard: q378's sig/band/occupancy replay split
    * even→corpus / odd→batch; representative cross edges (min corpus
    * holder per matched batch id), batch star edges, near matches
    * through combined-unsaturated buckets, survivors via the unrolled
    * CC over all four edge sets. q382 grades against q380's EXACT
    * oracle string — the guarded matcher over the PUBLISHED pre-banded
    * bucketed table must hash identically to the session-built guard on
    * the same flood fixture (the q366/q373 identity-proof pattern), so
    * the driver's hash compare IS the proof that the published-artifact
    * path re-brackets nothing.
    */
  private val oIncrementalGuardSql: String =
    s"""WITH $oFloodImageBandCtes,
       |$oGuardedMatchCtes
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 0)
       |    AS n_corpus_sigs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 1)
       |    AS n_batch_sigs,
       |  (SELECT CAST(count(CASE WHEN occ > 32 THEN 1 END) AS BIGINT)
       |   FROM occ) AS n_saturated_buckets,
       |  (SELECT CAST(coalesce(sum(CASE WHEN occ > 32 THEN occ END), 0)
       |     AS BIGINT) FROM occ) AS n_rows_saturated,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ec) AS n_exact_cross,
       |  (SELECT CAST(count(*) AS BIGINT) FROM st) AS n_exact_star,
       |  (SELECT CAST(count(*) AS BIGINT) FROM nc) AS n_near_cross,
       |  (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_near_within,
       |  (SELECT CAST(count(*) AS BIGINT) FROM sig WHERE doc_id % 2 = 1)
       |    - (SELECT CAST(count(*) AS BIGINT) FROM alab
       |       WHERE node % 2 = 1 AND component <> node)
       |    + (SELECT poison FROM achg) AS n_survivors
       |ORDER BY n_corpus_sigs""".stripMargin

  /** The q367/q375 audio-hash CTEs: `d` (doc family f = doc/3, variant
    * v = doc%3, n samples; %10 = 9 truncated), `sm` (the replayed
    * samples), `we` (65-window abs-energy envelope), `bits` and `sig(doc_id,
    * ahash)`.
    */
  private def oAudioSigCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id // 3 AS f, doc_id % 3 AS v,
       |    (doc_id // 3) % 90 + 80 AS n
       |  FROM documents WHERE doc_id % 10 <> 9),
       |sm AS (
       |  SELECT doc_id, n, i,
       |    CASE WHEN v <= 1 THEN
       |      CASE WHEN u >= 128 THEN 132 - t ELSE t - 132 END
       |    ELSE (i * i * 1997 + i * 523
       |      + (doc_id % 251) * (i % 17) * 64
       |      + doc_id * 31) % 65536 - 32768
       |    END AS s
       |  FROM (
       |    SELECT doc_id, v, n, i, u,
       |      ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS t
       |    FROM (
       |      SELECT doc_id, v, n, i,
       |        255 - ((i * i * (f % 13 + 3) + i * 37
       |          + (f // 13) * (i % 11) + f * 11 + 1) % 256) AS u
       |      FROM (SELECT doc_id, f, v, n, unnest(range(n)) AS i
       |            FROM d)))),
       |we AS (
       |  SELECT doc_id, (65 * i) // n AS w, sum(abs(s)) AS e
       |  FROM sm GROUP BY 1, 2),
       |bits AS (
       |  SELECT a.doc_id, a.w AS t
       |  FROM we a JOIN we b ON b.doc_id = a.doc_id AND b.w = a.w + 1
       |  WHERE a.w < 64 AND b.e > a.e),
       |${oSigCte("ahash", "t")}""".stripMargin
}
