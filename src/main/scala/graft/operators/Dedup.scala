package graft.operators

import graft.obs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *   - NOTHING here ever forms an all-pairs cartesian product. Candidate
  *     generation always goes through an equi-join key — the text itself
  *     (exact), a shared shingle (inverted index), a MinHash band hash, a
  *     SimHash band, or an IVF cell — so Spark shuffles by that key and
  *     each bucket joins locally.
  *   - Verification (exact Jaccard / cosine) runs per candidate pair, a
  *     narrow projection after the join.
  *   - Signatures are per-document projections (narrow, codegen'd); the
  *     only shuffles are the candidate-join ones.
  *
  * Cache note: the pair operators cache their signature tables because
  * Spark does not reuse exchanges across differently-aliased self-join
  * sides. Caches are registered through [[CacheScope.track]]: callers that
  * consume the result eagerly should wrap build-and-consume in
  * `CacheScope.scoped { ... }`, which unpersists them afterwards (Verify
  * and Bench do); outside a scope the entries stay in the session cache
  * (LRU-evicted) as before.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact-duplicate statistics per group column (hash-groupBy shape:
    * one shuffle on the group key).
    */
  def exactStats(docs: DataFrame, text: Column, groupCols: Column*): DataFrame =
    docs.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(text).as("n_distinct"),
        (count(lit(1)) - countDistinct(text)).as("n_dup_docs"))

  /** Keep the lowest-id row per exact text value. One shuffle, partitioned
    * by the text column. (Shuffle partitioning hashes the key per row
    * rather than shipping it separately, so substituting a digest for the
    * text as the window key would not reduce wire volume — the rows move
    * either way; for multi-MB payloads the lever is projecting the payload
    * OUT before dedup and joining it back by id.)
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol)).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** [[exactDedup]] for LARGE payloads: the window in exactDedup ships the
    * full row (payload included) through the dedup shuffle AND back. Here
    * only (id, md5(payload)) rides the shuffle; the surviving ids then
    * join back to the original rows, so multi-MB documents cross the wire
    * once (the id join) instead of twice. Output equals [[exactDedup]]
    * modulo md5 collisions (2^-128-scale caveat, standard for
    * content-digest dedup).
    */
  def exactDedupByDigest(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__digest")).orderBy(col(idCol))
    val keep = docs.select(col(idCol), md5(col(textCol).cast("binary")).as("__digest"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ----------------------------------------------------- shingle helpers

  /** Distinct word n-gram shingles of a text column. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(graft.functions.shingles(graft.functions.tokens(text), n))

  /** (__id, __set, __size) per-doc signature table — sorted distinct
    * shingle hashes plus the set size, computed in ONE kernel pass.
    * Shingles are hashed to longs AT THE SOURCE: every downstream shuffle
    * (doc-frequency agg, prefix join, band join) then moves 8-byte keys
    * instead of n-gram strings, and set intersections compare longs.
    * xxhash64 collisions are the usual negligible 2^-64-scale caveat.
    * The set SIZE rides along from the array — deriving it later with a
    * `count() over (partition by __id)` window would re-shuffle and
    * re-sort the whole exploded table just to recover a number the array
    * already knows.
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val set = hashedShingleSet(col(textCol), n)
    docs.select(col(idCol).as("__id"), set.as("__set"), size(set).as("__size"))
  }

  /** Distinct SORTED shingle-hash array per doc — one compiled pass
    * (expressions/NgramHashSet) instead of five interpreted HOFs; set
    * semantics identical to hashing the string shingles.
    */
  private def hashedShingleSet(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.NgramHashSet(toExpression(text), n))
  }

  /** Exact Jaccard for candidate pairs carried as (i, j) against the
    * CACHED per-doc signature table ([[shingleSets]] — no recomputation of
    * the shingle kernel per join side): |A∩B| / (|A|+|B|-|A∩B|), int-exact
    * then one double division (bit-identical in any engine). The joins are
    * left as shuffle joins ON PURPOSE: at bench scale AQE turns them into
    * broadcasts (the sets table is KBs), while at 100 TB the sets table is
    * one row per document — NOT broadcastable — and the shuffle join on the
    * candidate ids is the only shape that survives; a hard `broadcast()`
    * hint here would be a scale bug.
    */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame = {
    // __set is already sorted, so the per-PAIR intersection (the part that
    // runs millions of times) is a codegen'd two-pointer merge instead of
    // a hash-set build per evaluation.
    //
    // `cands` may carry DUPLICATE (i, j) rows — candidate generators emit
    // one row per shared band / prefix element, and deduplicating millions
    // of candidates BEFORE verification costs a full extra shuffle of the
    // candidate table. Verifying the duplicates instead is a few extra
    // codegen'd merge passes, and the distinct here runs over only the
    // rows that SURVIVE the threshold — a tiny table (common and jaccard
    // are functions of (i, j), so this distinct equals a pair distinct).
    cands
      .join(sets.select(col("__id").as("i"), col("__set").as("__si")), "i")
      .join(sets.select(col("__id").as("j"), col("__set").as("__sj")), "j")
      .withColumn("common",
        graft.functions.intersectCountSorted(col("__si"), col("__sj")))
      .withColumn("__u",
        (size(col("__si")) + size(col("__sj"))).cast(DoubleType) - col("common"))
      // |A∪B| = 0 (two sub-n-token docs): Jaccard is UNDEFINED — drop the
      // pair rather than divide by zero (ANSI throws). Shingle-driven
      // candidate generators never emit such pairs; sortedNeighborhood
      // pairs ANY adjacent docs, so the guard bites only there — and the
      // oracles' inter-join drops the same pairs by construction.
      .filter(col("__u") > 0)
      .withColumn("jaccard", col("common").cast(DoubleType) / col("__u"))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("common"), col("jaccard"))
      .distinct()
  }

  // ------------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram-Jaccard near-duplicate pairs via PREFIX-FILTERED
    * inverted-index join (AllPairs/PPJoin-style), then exact verification.
    *
    * Naive inverted indexing joins every pair of docs once per shared
    * shingle — over a skewed vocabulary (frequent shingles shared by most
    * docs) that degenerates toward all-pairs × multiplicity. Prefix
    * filtering restores the bound while staying EXACT:
    *   - shingles get a global total order by (document frequency asc,
    *     shingle asc) — rarest first;
    *   - a doc with set size s only indexes its first
    *     p = s - ceil(t*s) + 1 shingles in that order: any pair with
    *     J >= t has overlap >= ceil(t * max(|A|,|B|)), so skipping the
    *     last ceil(t*s)-1 shingles of each side cannot skip ALL common
    *     shingles — prefixes of a qualifying pair must intersect;
    *   - a length filter (t*|A| <= |B| <= |A|/t, necessary for J >= t)
    *     prunes the rest before verification.
    * Frequent shingles sort LAST, so they fall out of prefixes — the join
    * keys that remain are the rare, selective ones.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // cached: read by the exploded index below AND by both verify joins —
    // three scans of one narrow kernel projection.
    val sets = CacheScope.track(shingleSets(docs, idCol, textCol, n))
    val ex = sets.select(col("__id"), explode(col("__set")).as("__sh"))
    val docFreq = ex.groupBy("__sh").agg(count(lit(1)).as("__df"))
    // Per-doc prefix WITHOUT a rank window: the global (df asc, sh asc)
    // rank of a shingle WITHIN its doc is just its position in the doc's
    // own sorted (df, sh) array — so re-aggregate the df-joined index per
    // doc, sort each doc's array, and slice the prefix. A hash aggregate
    // (map-side partials, no sort phase) replaces the former
    // shuffle+SORT of the whole exploded index, and per-doc array sorts
    // are each ~|set| elements. The slice happens BEFORE the cache, so
    // the cached table is one compact row per doc (prefix only), not the
    // full exploded index.
    val ranked = ex.join(docFreq, "__sh")
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__r"))
      .select(col("__id"), size(col("__r")).as("__size"),
        slice(col("__r"), lit(1),
          (size(col("__r")) - ceil(size(col("__r")) * threshold) + 1)
            .cast("int")).as("__p"))
      // cached: both sides of the self-join read this — Spark does not
      // reuse the exchange across differently-aliased sides, so without
      // the cache the whole explode→df→prefix pipeline runs twice
      .transform(CacheScope.track)
    val prefix = ranked
      .select(col("__id"), col("__size"), posexplode(col("__p")).as(Seq("__pos", "__e")))
      .select(col("__id"), col("__e.__sh").as("__sh"), col("__size"),
        (col("__pos") + 1).as("__rn"))
    // Positional filter (PPJoin): a common prefix element at positions
    // (rn_i, rn_j) caps the total overlap at min(size-rn) + 1 remaining
    // elements; J >= t needs overlap >= t/(1+t)·(|A|+|B|). Rows failing the
    // cap can't certify the pair — and a qualifying pair's FIRST common
    // element always passes, so dropping failing rows loses nothing.
    val cands = prefix.select(col("__id").as("i"), col("__sh"),
      col("__size").as("__szi"), col("__rn").as("__rni"))
      .join(prefix.select(col("__id").as("j"), col("__sh"),
        col("__size").as("__szj"), col("__rn").as("__rnj")), "__sh")
      .filter(col("i") < col("j") &&
        col("__szj") >= col("__szi") * threshold &&
        col("__szj") <= col("__szi") / threshold &&
        least(col("__szi") - col("__rni"), col("__szj") - col("__rnj")) + 1 >=
          ceil((col("__szi") + col("__szj")) * (threshold / (1 + threshold))))
      .select("i", "j")
    verifyJaccard(cands, sets, threshold)
  }

  // ------------------------------------------- n-gram containment (exact)

  /** Exact n-gram CONTAINMENT pairs — the asymmetric sibling of
    * [[ngramJaccardPairs]]: emit (i, j) when C(i→j) = |S_i∩S_j| / |S_i|
    * ≥ threshold, i.e. doc i's shingles are mostly PRESENT IN doc j.
    * This is the quote/excerpt/copy-with-additions detector Jaccard
    * misses: a paragraph quoted inside a 100× longer article has
    * containment ≈ 1 but Jaccard ≈ 0.01, so no symmetric threshold
    * finds it. Output is directional — (i, j) and (j, i) both appear
    * only when the docs are mutual near-subsets (near-equal sets).
    *
    * Exact-complete candidate generation, adapted from the prefix
    * filter: overlap ≥ ceil(t·|S_i|) is required, so the CONTAINED side
    * may index only its first |S_i| − ceil(t·|S_i|) + 1 shingles in the
    * global (df asc, sh asc) order — skipping the last ceil(t·|S_i|)−1
    * cannot skip all ≥ ceil(t·|S_i|) common elements. The CONTAINER
    * side has no such bound (its extra shingles are free), so it must
    * index its FULL set — the asymmetry's structural price. Two
    * pre-verify filters stay exact: |S_j| ≥ ceil(t·|S_i|) (overlap
    * can't exceed |S_j|), and the positional cap
    * min(|S_i|−rn_i, |S_j|−rn_j) + 1 ≥ ceil(t·|S_i|) (a qualifying
    * pair's FIRST common element in the global order passes it).
    *
    * Scale shape: one equi-join on shingle hash between the probe
    * prefixes and the full index — no cartesian product. The full
    * index does post frequent shingles (unlike the Jaccard join, where
    * they fall out of both prefixes), but a join row materializes only
    * when a frequent shingle also appears in some probe PREFIX, and
    * prefixes are rare-first by construction — the df-order does the
    * skew work from the probe side. The cached ranked table carries
    * each doc's full sorted (df, sh) array (the index side needs every
    * element), unlike the Jaccard path's prefix-only cache.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "containment threshold must be in (0, 1]")
    val sets = CacheScope.track(shingleSets(docs, idCol, textCol, n))
    val ex = sets.select(col("__id"), explode(col("__set")).as("__sh"))
    val docFreq = ex.groupBy("__sh").agg(count(lit(1)).as("__df"))
    // Full per-doc (df, sh)-sorted array — cached because the probe
    // prefix AND the full index both explode it (Spark does not reuse
    // the exchange across differently-aliased self-join sides).
    val ranked = ex.join(docFreq, "__sh")
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__r"))
      .select(col("__id"), size(col("__r")).as("__size"), col("__r"))
      .transform(CacheScope.track)
    val probe = ranked
      .select(col("__id"), col("__size"),
        posexplode(slice(col("__r"), lit(1),
          (col("__size") - ceil(col("__size") * threshold) + 1).cast("int")))
          .as(Seq("__pos", "__e")))
      .select(col("__id").as("i"), col("__e.__sh").as("__sh"),
        col("__size").as("__szi"), (col("__pos") + 1).as("__rni"))
    val index = ranked
      .select(col("__id"), col("__size"),
        posexplode(col("__r")).as(Seq("__pos", "__e")))
      .select(col("__id").as("j"), col("__e.__sh").as("__sh"),
        col("__size").as("__szj"), (col("__pos") + 1).as("__rnj"))
    val cands = probe.join(index, "__sh")
      .filter(col("i") =!= col("j") &&
        col("__szj") >= ceil(col("__szi") * threshold) &&
        least(col("__szi") - col("__rni"), col("__szj") - col("__rnj")) + 1 >=
          ceil(col("__szi") * threshold))
      .select("i", "j")
    // Verification mirrors verifyJaccard but divides by |S_i| only —
    // int-exact intersection, one double division, direction preserved.
    cands
      .join(sets.select(col("__id").as("i"), col("__set").as("__si")), "i")
      .join(sets.select(col("__id").as("j"), col("__set").as("__sj")), "j")
      .withColumn("common",
        graft.functions.intersectCountSorted(col("__si"), col("__sj")))
      .withColumn("containment",
        col("common").cast(DoubleType) / size(col("__si")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("i"), col("j"), col("common"), col("containment"))
      .distinct()
  }

  // -------------------------------------------------- sorted neighborhood

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo's
    * merge/purge blocking): totally order documents by a lexical
    * blocking key (here the first `keyLen` characters of the text, ties
    * by id), take only pairs within `w` consecutive RANKS as candidates,
    * and exact-Jaccard-verify them. Complementary to the similarity-
    * driven generators: PPJoin/MinHash/SimHash find pairs that SHARE
    * CONTENT anywhere; sorted neighborhood finds pairs the blocking key
    * sorts together (shared prefixes, near-identical records) at a fixed
    * O(N·w) candidate budget with no per-shingle index at all.
    *
    * Scale shape — two places a naive version dies at 100 TB, both
    * avoided:
    *   - the global rank uses [[GlobalIds.contiguousIds]]'s
    *     histogram-offset plan (bucket = leading byte of the key, which
    *     is monotone along the key order), NOT a partition-less
    *     `row_number()` window that would funnel the corpus through one
    *     task;
    *   - the within-`w` rank join uses the ADJACENT-BLOCK trick: block
    *     b = rank div (w−1); the right side lands in its own block and
    *     the previous one, so every qualifying pair shares exactly one
    *     block id and ONE equi-join on the block finds all of them at 2×
    *     replication — no (w−1)-way per-offset join fan, no range-join
    *     explosion.
    * Verification reuses the cached signature table and the sorted-merge
    * intersection kernel ([[verifyJaccard]]).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
                              w: Int, n: Int, threshold: Double,
                              keyLen: Int = 32): DataFrame = {
    require(w >= 2, "neighborhood window must cover at least one pair")
    require(keyLen >= 1)
    val sets = CacheScope.track(shingleSets(docs, idCol, textCol, n))
    val keyed = docs.select(col(idCol).as("__id"),
      substring(col(textCol), 1, keyLen).as("__key"))
    val ranked = GlobalIds.contiguousIds(
      keyed, coalesce(ascii(substring(col("__key"), 1, 1)), lit(0L)),
      Seq(col("__key"), col("__id")), "__r")
    val b = (w - 1).toLong
    val lo = ranked.select(col("__id").as("__ida"), col("__r").as("__ra"),
      expr(s"__r DIV $b").as("__blk"))
    val hi = ranked.select(col("__id").as("__idb"), col("__r").as("__rb"))
      .withColumn("__blk", explode(array(expr(s"__rb DIV $b"),
        expr(s"__rb DIV $b") - 1)))
    val cands = lo.join(hi, "__blk")
      .filter((col("__rb") - col("__ra")).between(1, b))
      .select(least(col("__ida"), col("__idb")).as("i"),
        greatest(col("__ida"), col("__idb")).as("j"))
    verifyJaccard(cands, sets, threshold)
  }

  // ------------------------------------------------------- winnow index

  /** Near-dup pairs from a WINNOWED inverted index ([[Winnow]], q129):
    * candidates are doc pairs sharing ≥1 selected fingerprint, then the
    * usual exact-Jaccard verification. The same join shape as full
    * shingle posting lists but over a ~w/2×-smaller index (winnowing's
    * 2/(w+1) density), at the documented floor: only pairs sharing a run
    * of ≥ w+n−1 tokens are GUARANTEED a common fingerprint, so this is
    * the long-quote/plagiarism detector — [[ngramJaccardPairs]] stays
    * the exact-threshold path.
    *
    * `maxDf` drops stop-fingerprints (selected from > maxDf documents)
    * before the self-join — the standard index-side guard that keeps a
    * boilerplate gram from generating quadratic candidates; the df
    * count is one combinable aggregate over the (already small)
    * fingerprint table.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, w: Int, threshold: Double,
                  maxDf: Int = 100): DataFrame = {
    require(maxDf >= 2, "maxDf < 2 would drop every shareable fingerprint")
    val sets = CacheScope.track(shingleSets(docs, idCol, textCol, n))
    val fps = CacheScope.track(
      Winnow.fingerprints(docs, idCol, textCol, n, w)
        .select(col(idCol).as("__id"), col("fp")).distinct())
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val indexed = fps.join(keep, "fp")
    val cands = indexed.select(col("__id").as("i"), col("fp"))
      .join(indexed.select(col("__id").as("j"), col("fp")), "fp")
      .filter(col("i") < col("j"))
      .select("i", "j")
    verifyJaccard(cands, sets, threshold)
  }

  // ------------------------------------------------------- MinHash + LSH

  /** MinHash signature columns: k universal-hash permutations
    * min((a_k·h + b_k) mod p) over the doc's shingle hashes. Deterministic
    * seeds; xxhash64 base hash (engine-internal only — correctness is
    * established by the exact-Jaccard verification pass, so the base hash
    * never needs cross-engine portability).
    */
  private val MinhashP = 2038074743L

  private def perms(k: Int): Seq[(Long, Long)] = {
    // Deterministic LCG-derived (a,b) pairs, a ≠ 0.
    var s = 42L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.abs(s % (MinhashP - 1)) }
    (0 until k).map(_ => (next() + 1, next()))
  }

  /** (id, band, bandKey) LSH bucket table: k minhashes split into bands of
    * r rows, each band hashed to one key. Near-dup docs (J≈1) collide in
    * ≥1 band w.p. 1-(1-J^r)^(k/r) ≈ 1; the bucket join shuffles by
    * (band, bandKey) — no cartesian product anywhere.
    */
  private def minhashBandsOf(sets: DataFrame, numHashes: Int,
                             bandRows: Int): DataFrame = {
    val ex = sets.select(col("__id"), explode(col("__set")).as("__sh"))
      .withColumn("__h", pmod(xxhash64(col("__sh")), lit(MinhashP)))
    val ps = perms(numHashes)
    val aggExprs = ps.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * a + b, lit(MinhashP))).as(s"__m$i")
    }
    val sig = ex.groupBy("__id").agg(aggExprs.head, aggExprs.tail: _*)
    val numBands = numHashes / bandRows
    val bands = (0 until numBands).map { bIdx =>
      val slice = (0 until bandRows).map(r => col(s"__m${bIdx * bandRows + r}"))
      struct(lit(bIdx).as("band"),
        xxhash64(concat_ws(",", slice: _*)).as("bandKey"))
    }
    sig.select(col("__id"), explode(array(bands: _*)).as("__b"))
      .select(col("__id"), col("__b.band").as("band"), col("__b.bandKey").as("bandKey"))
  }

  /** MinHash-LSH near-duplicate pairs: band-bucket candidate join, then
    * exact-Jaccard verification at `threshold`. The verify pass makes the
    * output equal to the exact all-pairs answer whenever LSH recall holds
    * (k=64, r=4 ⇒ recall >0.9999 at J≥0.8), with LSH only pruning the
    * quadratic candidate space.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, threshold: Double = 0.5,
                      numHashes: Int = 64, bandRows: Int = 4): DataFrame = {
    // cached: the signature kernel feeds both the band table and the two
    // verify joins
    val sets = CacheScope.track(shingleSets(docs, idCol, textCol, n))
    // cached: self-joined below; without it the signature aggregate (the
    // expensive stage) executes once per join side
    val bands = CacheScope.track(minhashBandsOf(sets, numHashes, bandRows))
    val cands = bands.select(col("__id").as("i"), col("band"), col("bandKey"))
      .join(bands.select(col("__id").as("j"), col("band"), col("bandKey")),
        Seq("band", "bandKey"))
      .filter(col("i") < col("j"))
      .select("i", "j")
    verifyJaccard(cands, sets, threshold)
  }

  // ------------------------------------------------------------- SimHash

  /** SimHash near-duplicate pairs: portable simhash banded into 4 equal
    * bit-groups. Any pair within Hamming distance ≤ 3 shares ≥1 identical
    * band (pigeonhole), so the band equi-join has TOTAL recall for
    * maxHamming ≤ 3 — this is exact, not probabilistic, dedup.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 2): DataFrame =
    simhashMatches(docs, idCol, textCol, maxHamming).distinct()

  /** [[simhashPairs]] WITHOUT the final pair-distinct: a pair within
    * Hamming distance appears once per band it collides in (1–4 rows).
    * This is the right input for consumers that tolerate parallel edges —
    * connected components' min-aggregate is idempotent — where paying a
    * full shuffle of the collision table just to deduplicate it first
    * would be wasted work. The Hamming filter runs BEFORE any shuffle, so
    * only qualifying pairs leave the band join.
    */
  def simhashMatches(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    val bandWidth = 1L << (TextAnalysis.SimHashBits / 4)
    val withSig = docs.select(col(idCol).as("__id"),
      TextAnalysis.simHash(col(textCol)).as("__sig"))
    bandedHammingPairs(withSig, b =>
      pmod(floor(col("__sig").cast(DoubleType) / math.pow(bandWidth.toDouble, b)).cast(LongType),
        lit(bandWidth)), maxHamming)
  }

  /** SCALE-wide variant of [[simhashPairs]]: 56-bit signature
    * (TextAnalysis.simHashWide — two independent portable 28-bit
    * simhashes), 4 bands × 14 bits. Band-key cardinality is the scale
    * limit of simhash banding: 28 bits / 4 bands = 2^7 = 128 distinct
    * values per band, i.e. 512 candidate buckets TOTAL — at corpus scale
    * every bucket holds N/512 docs and the within-bucket join goes
    * quadratic (the ~11× max-task skew in SHUFFLE_AUDIT.md is this,
    * already visible at sf0.1). 14-bit bands give 2^14 = 16,384 values
    * per band — 128× more buckets, same total-recall pigeonhole
    * guarantee for hamming ≤ 3 over the wider signature. Same portable
    * arithmetic, so the DuckDB oracle reproduces it (q69).
    */
  def simhashPairsWide(docs: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 2): DataFrame =
    simhashMatchesWide(docs, idCol, textCol, maxHamming).distinct()

  /** Band width of the wide signature: 56 bits / 4 bands. */
  private[graft] val WideBandBits = TextAnalysis.SimHashBits / 2

  /** Band b's key of a wide signature — integer shift+mask, NOT the
    * double-division trick: a 56-bit value is outside double's 2^53
    * exact range. SHARED with the streaming twin
    * (streaming/CorpusStreams) so batch and stream can never band
    * differently.
    */
  private[graft] def wideBandNib(sig: Column, b: Int): Column =
    shiftrightunsigned(sig, WideBandBits * b)
      .bitwiseAND(lit((1L << WideBandBits) - 1))

  /** [[simhashPairsWide]] without the pair-distinct (parallel-edge
    * tolerant consumers — same contract as [[simhashMatches]]).
    */
  def simhashMatchesWide(docs: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    val withSig = docs.select(col(idCol).as("__id"),
      TextAnalysis.simHashWide(col(textCol)).as("__sig"))
    bandedHammingPairs(withSig, b => wideBandNib(col("__sig"), b), maxHamming)
  }

  /** Banded Hamming near-dup pairs over a PRECOMPUTED 64-bit signature
    * column — the [[simhashPairsWide]] machinery generalized to any
    * 64-bit perceptual signature (the round-14 consumer is the image
    * dHash from [[graft.expressions.PixelKernel]]: byte-unequal
    * re-encodes of the same picture land within a few bits). 4 bands ×
    * 16 bits: any pair within Hamming ≤ 3 shares ≥ 1 identical band
    * (pigeonhole — exact recall, not probabilistic), and 2^16 distinct
    * values per band keeps buckets fine-grained at corpus scale (the
    * 28-bit-simhash bucket-skew lesson). Signatures may be negative
    * (bit 63 set): banding uses the UNSIGNED shift. NULL signatures
    * (e.g. undecodable images) are dropped before banding — they have
    * no perceptual identity to match on.
    *
    * @return (i, j, hamming) with i < j, one row per qualifying pair.
    */
  def signaturePairs64(sigs: DataFrame, idCol: String, sigCol: String,
                       maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    val withSig = sigs.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    bandedHammingPairs(withSig, b =>
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL)),
      maxHamming).distinct()
  }

  /** CROSS-TABLE banded matching over 64-bit signatures — the
    * probe-vs-corpus twin of [[signaturePairs64]] (the shape of "find
    * these query images inside that video-frame corpus", and of any
    * incremental lookup where re-pairing the corpus against itself
    * would be wasted work): every (probe, corpus) pair within
    * `maxHamming` bits, found by the same 4×16-bit band equi-join
    * (pigeonhole: a pair within Hamming ≤ 3 agrees on ≥ 1 band —
    * recall is EXACT at this radius) and Hamming-verified before
    * anything else moves. Output (i = probe id, j = corpus id,
    * hamming) — the two id spaces are caller-disjoint, so no i < j
    * canonicalization applies.
    *
    * Scale shape: both sides explode to 4 band rows; the join is
    * band-keyed (sub-quadratic — bucket occupancy, not |P|·|C|), and
    * only 16-byte signature rows shuffle. Probe-side smallness is the
    * common case; Spark's AQE broadcasts it when it fits.
    */
  def signatureMatches64(probes: DataFrame, probeIdCol: String,
                         corpus: DataFrame, corpusIdCol: String,
                         sigCol: String, maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    def nib(b: Int): Column =
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL))
    def banded(df: DataFrame, idCol: String): DataFrame =
      explodeBands(df.filter(col(sigCol).isNotNull)
        .select(col(idCol).as("__id"), col(sigCol).as("__sig")), nib)
    banded(probes, probeIdCol)
      .select(col("__id").as("i"), col("__sig").as("__si"),
        col("band"), col("nib"))
      .join(banded(corpus, corpusIdCol)
        .select(col("__id").as("j"), col("__sig").as("__sj"),
          col("band"), col("nib")),
        Seq("band", "nib"))
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** INCREMENTAL 64-bit-signature matching — the IMAGE twin of
    * [[simhashMatchesWideIncremental]], and the production pattern
    * [[signaturePairs64]] stops short of: dedup an arriving shard
    * batch against yesterday's corpus WITHOUT re-decoding (or
    * re-pairing) the corpus. The corpus participates only through its
    * persisted `(id, sig)` signature table — 16 bytes/image, so a
    * 100-billion-image corpus is a ~1.6 TB table scan-able in seconds
    * where re-decoding 100 TB of pixels is not. Matches the batch
    * against the table (cross) AND within itself, with the same
    * 4×16-bit banding as [[signaturePairs64]] (pigeonhole-exact recall
    * at Hamming ≤ 3). NULL signatures drop on both sides.
    *
    * Output (i, j, hamming), distinct: cross rows oriented
    * i = corpus id, j = batch id; within-batch rows i < j. With
    * monotonically growing ids, feed the pairs to
    * `Components.keepCanonical(batchSigs, …)` — over the BATCH only,
    * per the [[simhashMatchesWideIncremental]] composition note: any
    * component touching the corpus has an old id as its min, so every
    * batch member of it drops, and corpus survivors stay immutable.
    * Union-append the batch survivors' signatures to refresh the table
    * for the next increment.
    *
    * Scale shape: both sides band to 4 rows each; only 16-byte
    * signature rows shuffle (corpus pixels are never read). At scale,
    * store the table bucketed by (band, nib)
    * ([[graft.operators.Skew.writeBucketed]]) so the cross join
    * co-locates without a corpus shuffle.
    *
    * @param existingSigs the persisted corpus signature table; its id
    *        space should be disjoint from the batch's (an exact id
    *        re-delivery emits nothing, matching the text twin).
    */
  def signatureMatches64Incremental(newSigs: DataFrame, idCol: String,
                                    sigCol: String, existingSigs: DataFrame,
                                    existingIdCol: String,
                                    existingSigCol: String,
                                    maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    val nib = (b: Int) =>
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL))
    val newBands = explodeBands(
      newSigs.filter(col(sigCol).isNotNull)
        .select(col(idCol).as("__id"), col(sigCol).as("__sig")), nib)
      .transform(CacheScope.track) // cross join AND within self-join
    val oldBands = explodeBands(
      existingSigs.filter(col(existingSigCol).isNotNull)
        .select(col(existingIdCol).as("__id"),
          col(existingSigCol).as("__sig")), nib)
    val cross = oldBands
      .select(col("__id").as("i"), col("__sig").as("__si"),
        col("band"), col("nib"))
      .join(newBands.select(col("__id").as("j"), col("__sig").as("__sj"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("i") =!= col("j")) // id re-delivery never self-matches
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    cross.union(pairsFromBands(newBands, maxHamming)).distinct()
  }

  /** [[signatureMatches64Incremental]] with the bucket-OCCUPANCY guard
    * (round 16) — the guard at the PRODUCTION shape: an ingest
    * increment meeting a solid-fill flood on either side (or both —
    * yesterday's corpus already holds the logo pile, today's batch
    * ships more of it) would explode the (band, nib) cross join
    * quadratically. Guarded behavior:
    *
    *  - Exact CROSS matches: each batch signature equi-joins the
    *    corpus's per-signature MIN id — one representative edge per
    *    matched batch id, never |corpus-dups| × |batch-dups| rows.
    *  - Exact WITHIN-batch: per-signature-group star edges
    *    ([[signaturePairs64Guarded]]'s form).
    *  - Near matches (1..maxHamming), cross and within: the banded
    *    joins run only through buckets whose COMBINED (corpus + batch)
    *    occupancy is ≤ `maxOccupancy` — one saturation rule across
    *    both sides, reported by running [[bandSaturation]] on the
    *    union of the two signature tables.
    *
    * [[graft.operators.Components.keepCanonical]] over the batch
    * yields IDENTICAL survivors to the unguarded matcher whenever the
    * near pairs are unaffected: the representative/star re-bracketing
    * preserves each equal-signature group's component and its minimum
    * (the exact-match component min is the min corpus holder or min
    * batch member, both of which the representative edges reach).
    * Exact recall is unconditional; near recall degrades only inside
    * saturated buckets — loudly, never quadratically.
    */
  def signatureMatches64IncrementalGuarded(newSigs: DataFrame, idCol: String,
                                           sigCol: String,
                                           existingSigs: DataFrame,
                                           existingIdCol: String,
                                           existingSigCol: String,
                                           maxHamming: Int = 2,
                                           maxOccupancy: Int = 32): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4 bands only guarantee recall for hamming <= 3")
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    val batch = newSigs.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .transform(CacheScope.track)
    val corpus = existingSigs.filter(col(existingSigCol).isNotNull)
      .select(col(existingIdCol).as("__id"),
        col(existingSigCol).as("__sig"))
    guardedIncremental(batch, corpus, b =>
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL)),
      maxHamming, maxOccupancy)
  }

  /** [[simhashMatchesWideIncremental]] with the bucket-OCCUPANCY guard
    * (round 17) — the text tier's batch-vs-corpus flood: yesterday's
    * corpus already holds the boilerplate pile (cookie banners,
    * license headers, near-empty documents — one wide simhash each)
    * and today's batch ships more of it; the unguarded banded cross
    * join would emit |corpus dups| × |batch dups| rows through the
    * shared buckets. Same contract as
    * [[signatureMatches64IncrementalGuarded]]: one representative
    * cross edge per matched batch id (min corpus holder), batch star
    * edges, near matches only through COMBINED-occupancy-capped
    * buckets; `Components.keepCanonical` over the batch yields
    * identical survivors to the unguarded matcher outside saturated
    * near-recall regions. Output is pair-DISTINCT (cf. the unguarded
    * matcher's parallel edges — star/representative edges have no
    * duplicates to tolerate).
    *
    * @param existingSigs `(id, sig)` as produced by [[wideSignatures]].
    */
  def simhashMatchesWideIncrementalGuarded(newDocs: DataFrame, idCol: String,
                                           textCol: String,
                                           existingSigs: DataFrame,
                                           maxHamming: Int = 2,
                                           maxOccupancy: Int = 32): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4 bands only guarantee recall for hamming <= 3")
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    val batch = newDocs.select(col(idCol).as("__id"),
      TextAnalysis.simHashWide(col(textCol)).as("__sig"))
      .transform(CacheScope.track)
    val corpus = existingSigs
      .select(col("id").as("__id"), col("sig").as("__sig"))
    guardedIncremental(batch, corpus, b => wideBandNib(col("__sig"), b),
      maxHamming, maxOccupancy)
  }

  /** The guarded batch-vs-corpus core — the q380 discipline
    * parameterized by the band-key function, shared by the 64-bit
    * image tier and the wide-simhash text tier. Both inputs must be
    * (__id, __sig) and null-free; `batch` must already be
    * CacheScope-tracked (it feeds the exact joins AND its own banded
    * self-join).
    */
  private def guardedIncremental(batch: DataFrame, corpus: DataFrame,
                                 nib: Int => Column, maxHamming: Int,
                                 maxOccupancy: Int): DataFrame =
    obs.phase("dedup.guarded_incremental") {
    // exact cross: one representative edge per matched batch id
    val corpusMin = corpus.groupBy(col("__sig"))
      .agg(min(col("__id")).as("__cmin"))
    val exactCross = batch.join(corpusMin, "__sig")
      .filter(col("__cmin") =!= col("__id")) // id re-delivery
      .select(col("__cmin").as("i"), col("__id").as("j"),
        lit(0L).as("hamming"))
    // exact within-batch: star edges per signature group
    val star = batch.groupBy(col("__sig"))
      .agg(min(col("__id")).as("__mn"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2L)
      .join(batch, "__sig")
      .filter(col("__id") =!= col("__mn"))
      .select(col("__mn").as("i"), col("__id").as("j"),
        lit(0L).as("hamming"))
    // near matches through unsaturated buckets only (combined rule)
    val batchBands = explodeBands(batch, nib).transform(CacheScope.track)
    val corpusBands = explodeBands(corpus, nib).transform(CacheScope.track)
    val okBuckets = batchBands.select(col("band"), col("nib"))
      .unionAll(corpusBands.select(col("band"), col("nib")))
      .groupBy(col("band"), col("nib"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") <= maxOccupancy)
      .select(col("band"), col("nib"))
    val batchOk = batchBands.join(okBuckets, Seq("band", "nib"), "left_semi")
      .transform(CacheScope.track)
    val corpusOk = corpusBands.join(okBuckets, Seq("band", "nib"), "left_semi")
    val nearCross = corpusOk
      .select(col("__id").as("i"), col("__sig").as("__si"),
        col("band"), col("nib"))
      .join(batchOk.select(col("__id").as("j"), col("__sig").as("__sj"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") >= 1L && col("hamming") <= maxHamming)
      .distinct()
    val nearWithin = pairsFromBands(batchOk, maxHamming)
      .filter(col("hamming") >= 1L)
      .distinct()
    exactCross.unionByName(star).unionByName(nearCross)
      .unionByName(nearWithin)
  }

  /** `(id, sig)` → `(id, sig, band, nib)` — the PERSISTABLE pre-banded
    * form of a 64-bit signature table. Store it bucketed by
    * (band, nib) ([[graft.io.TableIO.writeBucketed]]) and the
    * incremental cross join of
    * [[signatureMatches64IncrementalBanded]] reads co-located buckets
    * with NO corpus-side exchange — the banding shuffle is paid once
    * at table publish, not per arriving batch. 4 rows × 24 bytes per
    * image. NULL signatures drop (no perceptual identity).
    */
  def bandRows64(sigs: DataFrame, idCol: String, sigCol: String): DataFrame =
    explodeBands(
      sigs.filter(col(sigCol).isNotNull)
        .select(col(idCol).as("__id"), col(sigCol).as("__sig")),
      b => shiftrightunsigned(col("__sig"), 16 * b)
        .bitwiseAND(lit(0xFFFFL)))
      .select(col("__id").as(idCol), col("__sig").as(sigCol),
        col("band"), col("nib"))

  /** [[signatureMatches64Incremental]] against a PRE-BANDED corpus
    * table (the [[bandRows64]] layout, ideally bucketed by
    * (band, nib)): identical output contract — cross rows
    * (i = corpus id, j = batch id) plus within-batch pairs (i < j),
    * distinct, pigeonhole-exact at Hamming ≤ 3 — but the corpus side
    * is consumed AS STORED: no re-banding, no corpus-side shuffle when
    * the table is bucketed on the join key. The 100-TB shape: the
    * signature table is published once (banded + bucketed), and every
    * day's batch joins against it at the cost of banding the batch
    * alone.
    */
  def signatureMatches64IncrementalBanded(newSigs: DataFrame, idCol: String,
                                          sigCol: String,
                                          existingBands: DataFrame,
                                          existingIdCol: String,
                                          existingSigCol: String,
                                          maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    val nib = (b: Int) =>
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL))
    val newBands = explodeBands(
      newSigs.filter(col(sigCol).isNotNull)
        .select(col(idCol).as("__id"), col(sigCol).as("__sig")), nib)
      .transform(CacheScope.track)
    val cross = existingBands
      .select(col(existingIdCol).as("i"), col(existingSigCol).as("__si"),
        col("band"), col("nib"))
      .join(newBands.select(col("__id").as("j"), col("__sig").as("__sj"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    cross.union(pairsFromBands(newBands, maxHamming)).distinct()
  }

  /** [[signatureMatches64IncrementalBanded]] with the bucket-OCCUPANCY
    * guard — the guard at the PUBLISHED-artifact shape (round 17): the
    * daily job reads the persisted [[bandRows64]] table, and a
    * logo/solid-fill flood stored IN that table (or arriving in the
    * batch, or both) would explode the unguarded (band, nib) cross
    * join quadratically. Emits exactly
    * [[signatureMatches64IncrementalGuarded]]'s rows — representative
    * exact-cross edges, within-batch star edges, near pairs only
    * through buckets under the COMBINED corpus+batch occupancy cap —
    * while consuming the corpus side AS STORED:
    *
    *  - the per-(band, nib, sig) corpus reduction (one representative
    *    id + a holder count per distinct signature per bucket) is a
    *    groupBy whose keys are a SUPERSET of the table's (band, nib)
    *    bucketing, so it aggregates in place with NO corpus-side
    *    exchange — a flood of 10^6 identical logos collapses to one
    *    row per bucket before any join sees it;
    *  - exact cross matches equi-join the batch against the band-0
    *    representatives on the full signature (the batch side is the
    *    small/broadcast side) — one edge per matched batch id, never
    *    |corpus dups| × |batch dups| rows;
    *  - per-bucket occupancy = corpus holder counts (from the same
    *    in-place reduction) + batch counts; near joins run only
    *    through buckets with combined occupancy ≤ `maxOccupancy`, so
    *    the stored band rows of a saturated bucket are semi-join
    *    pruned without ever being paired.
    *
    * Composed with `Components.keepCanonical` over the batch, the
    * survivors are identical to the unguarded banded matcher whenever
    * near recall is unaffected (see
    * [[signatureMatches64IncrementalGuarded]]'s argument); run
    * [[bandSaturation]] over the union of both signature sets for the
    * loud report.
    */
  def signatureMatches64IncrementalBandedGuarded(
      newSigs: DataFrame, idCol: String, sigCol: String,
      existingBands: DataFrame, existingIdCol: String,
      existingSigCol: String, maxHamming: Int = 2,
      maxOccupancy: Int = 32): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4 bands only guarantee recall for hamming <= 3")
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    val nib = (b: Int) =>
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL))
    val batch = newSigs.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .transform(CacheScope.track)
    // per-(band, nib, sig) corpus reduction — grouping keys ⊇ the
    // table's (band, nib) bucketing, so this aggregates with no
    // corpus-side exchange and collapses any exact flood to one row
    val corpusReps = existingBands
      .select(col(existingIdCol).as("__cid"),
        col(existingSigCol).as("__csig"), col("band"), col("nib"))
      .groupBy(col("band"), col("nib"), col("__csig"))
      .agg(min(col("__cid")).as("__cmin"), count(lit(1)).as("__cocc"))
      .transform(CacheScope.track)
    // exact cross: one representative edge per matched batch id; the
    // band-0 row carries each corpus signature exactly once
    val exactCross = batch
      .join(corpusReps.filter(col("band") === 0)
        .select(col("__csig"), col("__cmin")),
        col("__sig") === col("__csig"))
      .filter(col("__cmin") =!= col("__id")) // id re-delivery
      .select(col("__cmin").as("i"), col("__id").as("j"),
        lit(0L).as("hamming"))
    // exact within-batch: star edges per signature group
    val star = batch.groupBy(col("__sig"))
      .agg(min(col("__id")).as("__mn"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2L)
      .join(batch, "__sig")
      .filter(col("__id") =!= col("__mn"))
      .select(col("__mn").as("i"), col("__id").as("j"),
        lit(0L).as("hamming"))
    // combined occupancy per bucket from the in-place corpus counts +
    // fresh batch counts — at most 4 × 65536 rows, never corpus-scale
    val batchBands = explodeBands(batch, nib).transform(CacheScope.track)
    val okBuckets = corpusReps
      .select(col("band"), col("nib"), col("__cocc").as("__occ"))
      .unionByName(batchBands.groupBy(col("band"), col("nib"))
        .agg(count(lit(1)).as("__occ")))
      .groupBy(col("band"), col("nib"))
      .agg(sum(col("__occ")).as("__occ"))
      .filter(col("__occ") <= maxOccupancy)
      .select(col("band"), col("nib"))
    // near matches only through unsaturated buckets; the corpus side's
    // stored band rows are semi-join pruned without re-banding
    val corpusOk = existingBands
      .select(col(existingIdCol).as("__id"),
        col(existingSigCol).as("__sig"), col("band"), col("nib"))
      .join(okBuckets, Seq("band", "nib"), "left_semi")
    val batchOk = batchBands.join(okBuckets, Seq("band", "nib"), "left_semi")
      .transform(CacheScope.track)
    val nearCross = corpusOk
      .select(col("__id").as("i"), col("__sig").as("__si"),
        col("band"), col("nib"))
      .join(batchOk.select(col("__id").as("j"), col("__sig").as("__sj"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") >= 1L && col("hamming") <= maxHamming)
      .distinct()
    val nearWithin = pairsFromBands(batchOk, maxHamming)
      .filter(col("hamming") >= 1L)
      .distinct()
    exactCross.unionByName(star).unionByName(nearCross)
      .unionByName(nearWithin)
  }

  // --------------------------------------- incremental (batch-vs-corpus)

  /** The persisted wide-signature table `(id, sig)` of a corpus — what a
    * production pipeline stores so the NEXT ingest batch can dedup
    * against the corpus without touching corpus text again (16 bytes/doc:
    * a 100-billion-doc corpus's signature table is ~1.6 TB, scan-able in
    * seconds where re-signaturing 100 TB of text is not). Feed it to
    * [[simhashMatchesWideIncremental]]; refresh it per increment by
    * appending the new batch's signatures.
    */
  def wideSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      TextAnalysis.simHashWide(col(textCol)).as("sig"))

  /** Incremental near-dup matching — the shape a production corpus
    * actually runs: match an arriving batch against the EXISTING corpus
    * via its signature table, plus within the batch itself, without
    * re-pairing the corpus (whose own pairs were already resolved in
    * earlier increments). Same banding, radius bound, and parallel-edge
    * contract as [[simhashMatchesWide]]; output rows are
    * (i, j, hamming) with cross pairs oriented i = existing id,
    * j = new id.
    *
    * Composition: feed the pairs to `Components.keepCanonical(newDocs,
    * …)` — over the BATCH, not the batch∪corpus union. With
    * monotonically growing doc ids, any pair-component touching the
    * corpus has an old doc as its min, so every batch member of that
    * component drops (including transitive bridges with no direct old
    * edge), and corpus survivors are IMMUTABLE by construction — running
    * keepCanonical over the union instead would let a batch doc that
    * bridges two previously-distinct corpus clusters retroactively
    * revoke one of their (already published) canonicals.
    *
    * Scale shape: the batch side is banded fresh (4 rows/doc); the
    * corpus side bands its signature TABLE — at scale, store the table
    * bucketed by (band, nib) so this join co-locates without a corpus
    * shuffle ([[graft.operators.Skew.writeBucketed]] is the writer). The
    * join output is Hamming-filtered before anything else shuffles, and
    * an exact id re-delivery (same id in both sides) emits nothing.
    *
    * @param existingSigs `(id, sig)` as produced by [[wideSignatures]];
    *        ids should be disjoint from the batch's (re-deliveries are
    *        tolerated, matching the streaming twin's contract).
    */
  def simhashMatchesWideIncremental(newDocs: DataFrame, idCol: String,
                                    textCol: String, existingSigs: DataFrame,
                                    maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3, "4 bands only guarantee recall for hamming <= 3")
    val nib = (b: Int) => wideBandNib(col("__sig"), b)
    val newBands = explodeBands(
      newDocs.select(col(idCol).as("__id"),
        TextAnalysis.simHashWide(col(textCol)).as("__sig")), nib)
      .transform(CacheScope.track) // consumed by the cross join AND the within self-join
    val oldBands = explodeBands(
      existingSigs.select(col("id").as("__id"), col("sig").as("__sig")), nib)
    val cross = oldBands
      .select(col("__id").as("i"), col("__sig").as("__si"), col("band"), col("nib"))
      .join(newBands.select(col("__id").as("j"), col("__sig").as("__sj"),
        col("band"), col("nib")), Seq("band", "nib"))
      .filter(col("i") =!= col("j")) // id re-delivery never self-matches
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    cross.union(pairsFromBands(newBands, maxHamming))
  }

  /** [[simhashMatchesWideIncremental]] with the pair-distinct (cf.
    * [[simhashPairsWide]]) — one row per qualifying pair.
    */
  def simhashPairsWideIncremental(newDocs: DataFrame, idCol: String,
                                  textCol: String, existingSigs: DataFrame,
                                  maxHamming: Int = 2): DataFrame =
    simhashMatchesWideIncremental(newDocs, idCol, textCol, existingSigs,
      maxHamming).distinct()

  /** (__id, __sig) → one row per (band, nib) — the exploded banded form
    * every banded-LSH join consumes. `nib` builds band b's key from
    * `__sig`.
    */
  /** Per-band bucket saturation report for a 64-bit signature set —
    * the LOUD half of the occupancy guard (round 16): one row per
    * band with total buckets, buckets over `maxOccupancy`, and the
    * signature-row mass sitting in them. Real corpora pile
    * near-constant images (logos, solid fills — any flat image
    * dHashes to 0) into a handful of (band, nib) buckets; this is the
    * monitoring read that says the quadratic hazard exists BEFORE a
    * pair join hits it.
    */
  def bandSaturation(sigs: DataFrame, idCol: String, sigCol: String,
                     maxOccupancy: Int = 32): DataFrame = {
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    saturationReport(bandRows64(sigs, idCol, sigCol), maxOccupancy)
  }

  /** The saturation-report aggregation over any exploded banded frame
    * (needs only `band` and `nib` columns) — shared by the 64-bit and
    * wide-simhash reports.
    */
  private def saturationReport(bands: DataFrame, maxOccupancy: Int): DataFrame =
    bands.groupBy(col("band"), col("nib"))
      .agg(count(lit(1)).as("__occ"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        count(when(col("__occ") > maxOccupancy, 1))
          .as("n_saturated_buckets"),
        coalesce(sum(when(col("__occ") > maxOccupancy, col("__occ"))),
          lit(0L)).as("n_sigs_in_saturated"))

  /** [[signaturePairs64]] with a bucket-OCCUPANCY guard — the round-16
    * response to the q374 fixture incident, which is also a production
    * hazard: a corpus full of near-constant images (every solid fill
    * dHashes to 0) piles into few (band, nib) buckets and the banded
    * self-join explodes quadratically. The guard makes the plan degrade
    * LOUDLY, never quadratically:
    *
    *  - Hamming-0 (exact) duplicates are matched via per-signature-group
    *    STAR edges — (group-min id, member) rows from one groupBy —
    *    which connect exactly the same components as the all-pairs form
    *    at LINEAR cost, regardless of how big the flood is. Exact
    *    recall is therefore unconditional.
    *  - Near pairs (1 ≤ hamming ≤ maxHamming) come from the banded join
    *    restricted to buckets with ≤ `maxOccupancy` members. The
    *    pigeonhole guarantee becomes conditional: a near pair is found
    *    iff SOME shared band's bucket is unsaturated — recall degrades
    *    only inside saturated regions, and [[bandSaturation]] reports
    *    exactly where (run it alongside; the gated query does).
    *
    * Output: (i, j, hamming) with i < j — hamming 0 rows are the star
    * edges, 1..maxHamming rows the guarded banded pairs.
    */
  def signaturePairs64Guarded(sigs: DataFrame, idCol: String,
                              sigCol: String, maxHamming: Int = 2,
                              maxOccupancy: Int = 32): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4 bands only guarantee recall for hamming <= 3")
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    val withSig = sigs.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .transform(CacheScope.track)
    guardedSelfPairs(withSig, b =>
      shiftrightunsigned(col("__sig"), 16 * b).bitwiseAND(lit(0xFFFFL)),
      maxHamming, maxOccupancy)
  }

  /** [[simhashPairsWide]] with the bucket-OCCUPANCY guard — the text
    * tier's flood is BOILERPLATE: cookie banners, license headers,
    * empty/near-empty documents all hash to the same wide simhash, so
    * a scraped corpus piles one exact group into few 14-bit band
    * buckets exactly the way solid fills pile dHash-0 (round 17,
    * closing the q378/q380 discipline's text gap). Identical contract
    * to [[signaturePairs64Guarded]]: exact duplicates match via
    * per-signature-group STAR edges (same components as all-pairs at
    * linear cost — exact recall unconditional), near pairs only
    * through buckets within `maxOccupancy`, degradation reported by
    * [[bandSaturationWide]]. Output (i, j, hamming), i < j, distinct.
    */
  def simhashPairsWideGuarded(docs: DataFrame, idCol: String,
                              textCol: String, maxHamming: Int = 2,
                              maxOccupancy: Int = 32): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4 bands only guarantee recall for hamming <= 3")
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    val withSig = docs.select(col(idCol).as("__id"),
      TextAnalysis.simHashWide(col(textCol)).as("__sig"))
      .transform(CacheScope.track)
    guardedSelfPairs(withSig, b => wideBandNib(col("__sig"), b),
      maxHamming, maxOccupancy)
  }

  /** Per-band bucket saturation over the WIDE text signatures — the
    * [[bandSaturation]] report for the simhash tier: run it wherever
    * [[simhashPairsWideGuarded]] runs, so the boilerplate-flood region
    * (where near recall is degraded) is a number in a monitoring
    * table, not a surprise in a shuffle.
    */
  def bandSaturationWide(docs: DataFrame, idCol: String, textCol: String,
                         maxOccupancy: Int = 32): DataFrame = {
    require(maxOccupancy >= 1, "occupancy cap must be positive")
    saturationReport(explodeBands(
      docs.select(col(idCol).as("__id"),
        TextAnalysis.simHashWide(col(textCol)).as("__sig")),
      b => wideBandNib(col("__sig"), b)), maxOccupancy)
  }

  /** The guarded self-pair core — the q378 discipline parameterized by
    * the band-key function, shared verbatim by the 64-bit image tier
    * ([[signaturePairs64Guarded]]) and the 56-bit wide-simhash text
    * tier ([[simhashPairsWideGuarded]]) so the two can never guard
    * differently. `withSig` must be (__id, __sig), null-free, and
    * already CacheScope-tracked (it is consumed by the star groupBy
    * AND the banded self-join).
    */
  private def guardedSelfPairs(withSig: DataFrame, nib: Int => Column,
                               maxHamming: Int, maxOccupancy: Int): DataFrame =
    obs.phase("dedup.guarded_self_pairs") {
    val star = withSig
      .groupBy(col("__sig"))
      .agg(min(col("__id")).as("__mn"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2L)
      .join(withSig, "__sig")
      .filter(col("__id") =!= col("__mn"))
      .select(col("__mn").as("i"), col("__id").as("j"),
        lit(0L).as("hamming"))
    val bands = explodeBands(withSig, nib).transform(CacheScope.track)
    val okBuckets = bands.groupBy(col("band"), col("nib"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") <= maxOccupancy)
      .select(col("band"), col("nib"))
    val near = pairsFromBands(
      bands.join(okBuckets, Seq("band", "nib"), "left_semi")
        .transform(CacheScope.track), maxHamming)
      .filter(col("hamming") >= 1L)
      .distinct()
    star.unionByName(near)
  }

  private def explodeBands(sigs: DataFrame, nib: Int => Column): DataFrame =
    sigs.select(col("__id"), col("__sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), nib(b).as("nib"))): _*)).as("__b"))
      .select(col("__id"), col("__sig"), col("__b.band").as("band"), col("__b.nib").as("nib"))

  /** Banded pairs (i < j) from an exploded banded frame, Hamming-verified
    * BEFORE anything else shuffles.
    */
  private def pairsFromBands(bands: DataFrame, maxHamming: Int): DataFrame =
    bands.select(col("__id").as("i"), col("__sig").as("__si"), col("band"), col("nib"))
      .join(bands.select(col("__id").as("j"), col("__sig").as("__sj"), col("band"), col("nib")),
        Seq("band", "nib"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        bit_count(col("__si").bitwiseXOR(col("__sj"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Shared banded-LSH self-join: explode (band, nib(band)) per doc,
    * equi-join on (band, nib), verify Hamming ≤ maxHamming BEFORE
    * anything else shuffles.
    */
  private def bandedHammingPairs(withSig: DataFrame, nib: Int => Column,
                                 maxHamming: Int): DataFrame =
    pairsFromBands(
      explodeBands(withSig, nib)
        .transform(CacheScope.track), // self-joined; avoids computing signatures twice
      maxHamming)

  // ------------------------------------------- edit-distance verification

  /** Near-dup pairs with an EDIT-DISTANCE verification tier on top of the
    * wide-SimHash candidates: signature Hamming says "similar token
    * multiset"; bounded Levenshtein over a normalized prefix window says
    * "similar actual text" — the second check is what separates true
    * near-copies from topically-similar-but-distinct documents (same
    * vocabulary, different prose), the false-positive class resemblance
    * tiers admit. Output: one row per candidate pair that passes BOTH
    * gates — (i, j, hamming, edits), i < j.
    *
    * Scale shape: candidates come from [[simhashPairsWide]] (banded
    * equi-join, sub-quadratic); the verify step is two id-keyed equi
    * joins fetching each side's window (pairs ⋈ docs — the pair side is
    * orders of magnitude smaller than the corpus after banding) and a
    * per-pair kernel bounded by window² — with the THRESHOLDED
    * Levenshtein (Spark's 3-arg form) the kernel early-exits at
    * O(window·maxEdits) via the Ukkonen band, so the verify cost per
    * pair is fixed and small no matter how long the documents are. The
    * window is [[TextAnalysis.asciiWindow]] — codepoint-truncated then
    * ASCII-folded, which both bounds the kernel and makes the distance
    * bit-portable across engines (byte-counting and codepoint-counting
    * implementations agree on pure ASCII).
    */
  def editVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 2, maxEdits: Int = 40,
                        window: Int = 160): DataFrame = {
    require(maxEdits >= 0 && window > 0, "need maxEdits >= 0 and window > 0")
    val pairs = simhashPairsWide(docs, idCol, textCol, maxHamming)
    val win = docs.select(col(idCol).as("__wid"),
      TextAnalysis.asciiWindow(col(textCol), window).as("__w"))
    pairs
      .join(win.select(col("__wid").as("i"), col("__w").as("__wi")), "i")
      .join(win.select(col("__wid").as("j"), col("__w").as("__wj")), "j")
      // 3-arg levenshtein returns -1 when the distance exceeds the
      // threshold (and stops computing there) — keep qualifying pairs.
      .withColumn("edits",
        levenshtein(col("__wi"), col("__wj"), maxEdits).cast(LongType))
      .filter(col("edits") >= 0L)
      .select("i", "j", "hamming", "edits")
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Embedding near-duplicate pairs restricted to IVF cells: vectors are
    * assigned to their nearest coarse centroid (broadcast join — centroids
    * are small), pairs are generated within cells only (equi-join on the
    * cell id), then cosine-verified. Deterministic and reproducible; the
    * cell restriction is the documented approximation (same-cell recall),
    * which is what makes it linear-ish instead of quadratic at scale.
    */
  def embeddingDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, threshold: Double): DataFrame = {
    // Norms once per row; each candidate pair then costs one dot fold.
    // dot/(ni*nj) is the same arithmetic as cosineSimilarity, so scores
    // stay bit-identical to the oracle. Cell assignment is a map-only
    // projection (Similarity.assigned), so no join back by id.
    val sides = Similarity.assigned(vectors, idCol, vecCol, centroids)
      .select(col("id"), col("cell"), col("__v"), col("__n"))
    sides.select(col("id").as("i"), col("cell"), col("__v").as("__vi"), col("__n").as("__ni"))
      .join(sides.select(col("id").as("j"), col("cell"), col("__v").as("__vj"), col("__n").as("__nj")), "cell")
      .filter(col("i") < col("j"))
      .withColumn("cos", when(col("__ni") * col("__nj") =!= 0.0,
        graft.functions.dotProductF(col("__vi"), col("__vj")) / (col("__ni") * col("__nj"))))
      .filter(col("cos") >= threshold)
      .select("i", "j", "cos")
  }

  /** Left-to-right square-and-multiply x^e as an explicit multiplication
    * chain — every step is one IEEE-754 correctly-rounded multiply in a
    * FIXED association order, so an oracle spelling the same chain gets
    * the bit-identical double (libm `pow` would not: its rounding differs
    * across implementations).
    */
  private def powFixed(base: Column, e: Int): Column = {
    require(e >= 1, "exponent must be positive")
    Integer.toBinaryString(e).drop(1).foldLeft(base)((acc, bit) =>
      if (bit == '1') acc * acc * base else acc * acc)
  }

  /** MinHash-LSH (b bands × r rows) parameter planner: the S-curve
    * p(s) = 1 − (1 − s^r)^b — the probability a pair with Jaccard s
    * collides in ≥1 band — tabulated over a similarity grid for each
    * candidate (b, r). This is the table read BEFORE committing a dedup
    * tier's config (q24 runs 8×6): where does the curve cross 0.5, how
    * much sub-threshold mass still collides (candidate cost), how much
    * above-threshold mass is missed (recall loss).
    *
    * Deliberately driver-scale (|configs|·|grid| rows, no input table) —
    * a planning utility like q177's skew advisor — but hash-gated anyway:
    * both powers use [[powFixed]]'s fixed chain, and s = s_pct/100.0 is
    * one exact-rounded division, so every double matches the oracle
    * bit-for-bit.
    *
    * @return (b, r, s_pct, p_collide) ordered by (b, r, s_pct)
    */
  def lshParameterCurve(spark: org.apache.spark.sql.SparkSession,
                        configs: Seq[(Int, Int)],
                        sPcts: Seq[Int]): DataFrame = {
    require(configs.nonEmpty && sPcts.nonEmpty)
    require(sPcts.forall(p => p >= 1 && p <= 99), "grid must be inside (0,100)")
    require(configs.forall { case (b, r) => b >= 1 && r >= 1 })
    import spark.implicits._
    val grid = sPcts.toDF("s_pct")
    configs.map { case (b, r) =>
      val s = col("s_pct").cast(DoubleType) / 100.0
      grid.select(lit(b).as("b"), lit(r).as("r"), col("s_pct"),
        (lit(1.0) - powFixed(lit(1.0) - powFixed(s, r), b)).as("p_collide"))
    }.reduce(_.unionByName(_)).orderBy("b", "r", "s_pct")
  }

  /** WEIGHTED (bag) Jaccard verification of candidate pairs:
    * Σ_t min(c₁,c₂) / Σ_t max(c₁,c₂) over token COUNT vectors — the
    * multiset similarity that sees "the same words, repeated differently"
    * where set Jaccard saturates (a doc and its 10×-repeated copy are
    * set-identical but bag-similar only 0.1). The verification tier to
    * run behind any candidate generator when repetition matters.
    *
    * Identity that keeps it one join: Σmax = total₁ + total₂ − Σmin, so
    * only the SHARED-token min-sum needs the pair join; totals come from
    * the per-doc mass table. All BIGINT + one division; a pair of empty
    * bags yields NULL (0/0 has no similarity).
    *
    * Scale shape: candidates ⋈ postings on each side id, then an equi
    * join on (pair, token) — cost ∝ |candidates| · doc length, the
    * verification bound every exact tier here pays ([[verifyJaccard]]);
    * the token-count table is built once and tracked.
    *
    * @param cands canonical (i, j) candidate pairs
    * @return (i, j, min_sum, total_i, total_j, wjaccard)
    */
  def weightedJaccardVerify(cands: DataFrame, docs: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val tc = CacheScope.track(
      docs.select(col(idCol).as("__d"),
        explode(graft.functions.tokens(col(textCol))).as("__t"))
        .groupBy("__d", "__t").agg(count(lit(1)).as("__c")))
    val totals = tc.groupBy("__d").agg(sum(col("__c")).as("__tot"))
    val shared = cands
      .join(tc.select(col("__d").as("i"), col("__t"),
        col("__c").as("__ci")), "i")
      .join(tc.select(col("__d").as("j"), col("__t"),
        col("__c").as("__cj")), Seq("j", "__t"))
      .groupBy("i", "j")
      .agg(sum(least(col("__ci"), col("__cj"))).as("min_sum"))
    cands
      .join(shared, Seq("i", "j"), "left")
      .join(totals.select(col("__d").as("i"), col("__tot").as("total_i")),
        Seq("i"), "left")
      .join(totals.select(col("__d").as("j"), col("__tot").as("total_j")),
        Seq("j"), "left")
      .select(col("i"), col("j"),
        coalesce(col("min_sum"), lit(0L)).as("min_sum"),
        coalesce(col("total_i"), lit(0L)).as("total_i"),
        coalesce(col("total_j"), lit(0L)).as("total_j"))
      .withColumn("wjaccard",
        when(col("total_i") + col("total_j") - col("min_sum") > 0L,
          col("min_sum").cast(DoubleType) /
            (col("total_i") + col("total_j") - col("min_sum"))
              .cast(DoubleType)))
  }

  /** BLOCKING-quality audit (Christen's entity-resolution metrics): for
    * a candidate-pair generator measured against exact ground truth,
    * report REDUCTION RATIO (how much of the n(n−1)/2 comparison space
    * the blocking avoided) and PAIR COMPLETENESS (how many true pairs
    * survived into the candidates — q97's recall), plus their harmonic
    * mean. RR without PC is trivial (block nothing together) and PC
    * without RR is trivial (block everything together); a blocking
    * scheme is only judged on both, which is why this is one row, not
    * two dashboards.
    *
    * Exact BIGINT counts (the n(n−1)/2 base needs n < ~3·10⁹ — beyond
    * that the ratio saturates anyway); one division per metric. The
    * left-semi hit join is the q97 shape. Pairs are assumed canonical
    * (i < j) as every generator here emits them.
    *
    * @return one row: (n_records, n_all_pairs, n_candidates,
    *         reduction_ratio, n_truth, n_found, pair_completeness,
    *         quality)
    */
  def blockingQuality(candidates: DataFrame, truth: DataFrame,
                      records: DataFrame): DataFrame = {
    val n = records.agg(count(lit(1)).as("n_records"))
      .withColumn("n_all_pairs", expr("n_records * (n_records - 1) DIV 2"))
    val cand = candidates.agg(count(lit(1)).as("n_candidates"))
    val tru = truth.agg(count(lit(1)).as("n_truth"))
    val found = truth.join(candidates, Seq("i", "j"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    n.crossJoin(cand).crossJoin(tru).crossJoin(found)
      .withColumn("reduction_ratio",
        when(col("n_all_pairs") > 0,
          lit(1.0) - col("n_candidates").cast(DoubleType) /
            col("n_all_pairs").cast(DoubleType)))
      .withColumn("pair_completeness",
        when(col("n_truth") > 0,
          col("n_found").cast(DoubleType) / col("n_truth").cast(DoubleType)))
      .withColumn("quality",
        when(col("reduction_ratio") + col("pair_completeness") > 0.0,
          lit(2.0) * col("reduction_ratio") * col("pair_completeness") /
            (col("reduction_ratio") + col("pair_completeness"))))
      .select("n_records", "n_all_pairs", "n_candidates", "reduction_ratio",
        "n_truth", "n_found", "pair_completeness", "quality")
  }
}
