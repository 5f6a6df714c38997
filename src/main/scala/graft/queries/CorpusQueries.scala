package graft.queries

import graft.operators.{Dedup, ExactQuantiles, InvertedIndex, LineDedup, Multimodal, Packing, Quantization, Sampling, Similarity, TextAnalysis, TfIdf, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryKit._

/** Corpus-curation queries q22–q139: exact and near-dup dedup (n-gram
  * Jaccard, MinHash-LSH, SimHash, embeddings), similarity search
  * (brute force, IVF, LSH, PQ), text analysis, sampling and the first
  * corpus pipelines.
  */
object CorpusQueries {

  lazy val all: Seq[Query] = Seq(
    // Exact dedup stats per source (hash-groupBy dedup shape).
    Query("q22_dedup_exact", (s, dir) => {
      Dedup.exactStats(t(s, dir, "documents"), col("text"), col("source"))
        .orderBy("source")
    },
    oracle =
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Exact bigram-Jaccard near-dup pairs via inverted-index join.
    Query("q23_dedup_ngram", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 2, threshold = 0.6).orderBy("i", "j")
    },
    oracle = oJaccardPairs(2, 0.6)),

    // Asymmetric n-gram CONTAINMENT pairs (quote/excerpt detection):
    // |S_i∩S_j|/|S_i| >= 0.8 — the directional near-subset relation a
    // symmetric Jaccard threshold cannot see. Probe prefixes against a
    // full inverted index; exact verification on the cached sets.
    Query("q126_containment", (s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 2, threshold = 0.8).orderBy("i", "j")
    },
    oracle = oContainmentPairs(2, 0.8)),

    // MinHash-LSH candidates + exact-Jaccard verification (trigrams).
    // 8 bands × 6 rows: near-dup pairs (J≈0.99 here) collide w.p.
    // 1-(1-0.99^6)^8 ≈ 1-6e-10 while background pairs (J<0.1 on this
    // corpus) almost never do — band selectivity keeps the candidate set
    // linear-ish, and 48 hash exprs keep the signature aggregate's
    // generated code compact (codegen compile time grows with agg width).
    // With a corpus whose pair similarities crowd the threshold, widen
    // recall with more/shorter bands at the cost of more candidates.
    Query("q24_dedup_minhash", (s, dir) => {
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, numHashes = 48, bandRows = 6).orderBy("i", "j")
    },
    oracle = oJaccardPairs(3, 0.5)),

    // SimHash banding (portable simhash, 4 equal bit-bands).
    Query("q25_dedup_simhash", (s, dir) => {
      Dedup.simhashPairs(spreadDocs(t(s, dir, "documents")), "doc_id", "text",
        maxHamming = 2).orderBy("i", "j")
    },
    oracle =
      s"""WITH toksrc AS (SELECT doc_id, text FROM documents),
         |$oSimhash
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 2
         |ORDER BY i, j""".stripMargin),

    // Wide (56-bit) SimHash banding — the scale configuration: 14-bit
    // bands (16,384 values each) where the 28-bit signature's 7-bit
    // bands (128 values) go quadratic per bucket at corpus scale. Total
    // recall for hamming <= 3 holds identically, so the oracle is again
    // brute-force all-pairs Hamming over the (two-multiplier) signature.
    Query("q69_dedup_simhash_wide", (s, dir) => {
      Dedup.simhashPairsWide(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 2).orderBy("i", "j")
    },
    // Wide signature = sig31 + sig37 * 2^28 (both halves < 2^28, so the
    // BIGINT concatenation is exact; the 37-family folds from seed 1 —
    // TextAnalysis.WideSeed); banding guarantees total recall for
    // hamming <= 3, so all-pairs Hamming is again the ground truth.
    oracle =
      s"""WITH ${oWideSimhashCtes()}
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM wide a JOIN wide b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 2
         |ORDER BY i, j""".stripMargin),

    // Text quality metrics (token counts, subword counts, ratios, score).
    Query("q26_text_quality", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subtokens"),
        TextAnalysis.punctCount(col("text")).as("punct_cnt"),
        TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
    oracle =
      s"""WITH m AS (
         |  SELECT doc_id, text,
         |         CAST(len($oToks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter($oToks,
         |           t -> list_contains(['the','a','an','of','to','and','in','is','on','for'], t))) AS BIGINT) AS n_stop,
         |         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS BIGINT) AS n_subtokens,
         |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS BIGINT) AS punct_cnt
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_subtokens, punct_cnt,
         |       CASE WHEN n_tokens > 0
         |            THEN CAST(n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
         |       (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |        + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |        + (1.0 - CAST(punct_cnt AS DOUBLE)
         |                 / greatest(CAST(length(text) AS DOUBLE), 1.0))) / 3.0 AS quality
         |FROM m ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic vs the labeled lang: confusion counts.
    Query("q27_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted")
    },
    oracle =
      s"""WITH $oLangIdCtes
         |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS cnt
         |FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin),

    // Document fingerprints: portable rolling hash + simhash.
    Query("q28_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.simHash(col("text")).as("simhash"))
        .orderBy("doc_id")
    },
    oracle =
      s"""WITH $oSimhash
         |SELECT d.doc_id, ${oPolyHash("d.text")} AS fp, s.sig AS simhash
         |FROM documents d JOIN simhash s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Brute-force cosine top-5 for the 20-vector query set.
    Query("q29_embed_topk", (s, dir) => {
      Similarity.bruteForceTopK(queriesSubset(s, dir), t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5).orderBy("qid", "rank")
    },
    oracle =
      s"""WITH $oNorms,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCos("q", "c")} AS cos
         |  FROM norms q JOIN norms c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, nid, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // IVF top-5 (20 stride centroids, nProbe=5) — the ANN scale path.
    Query("q30_embed_ann_ivf", (s, dir) => {
      Similarity.ivfTopK(queriesSubset(s, dir), t(s, dir, "embeddings"),
        strideCentroids(s, dir), "vec_id", "embedding", k = 5, nProbe = 5)
        .orderBy("qid", "rank")
    },
    oracle =
      s"""WITH $oNorms,
         |$oCells,
         |probed AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.vec_id AS qid, c.cid AS cell,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${oCos("q", "c")} DESC, c.cid) AS pr
         |    FROM norms q CROSS JOIN centroids c
         |    WHERE q.vec_id < 20)
         |  WHERE pr <= 5),
         |ranked AS (
         |  SELECT p.qid, n.vec_id AS nid, ${oCos("q", "n")} AS cos,
         |         row_number() OVER (PARTITION BY p.qid
         |           ORDER BY ${oCos("q", "n")} DESC, n.vec_id) AS rank
         |  FROM probed p
         |  JOIN cells ON cells.cell = p.cell
         |  JOIN norms n ON n.vec_id = cells.id
         |  JOIN norms q ON q.vec_id = p.qid
         |  WHERE n.vec_id <> p.qid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // Sign-LSH (hyperplane) top-5 — the LSH-bucketed ANN alternative.
    // 16 seeded ±1 hyperplanes in 4 bands × 4 bits; the oracle re-derives
    // the SAME banded candidates from the same plane literals (±1 dot
    // products are exact in both engines), then the same exact rerank.
    Query("q39_embed_ann_lsh", (s, dir) => {
      Similarity.lshTopK(queriesSubset(s, dir), t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, k = 5,
        numPlanes = LshPlanes, bandBits = LshBandBits)
        .orderBy("qid", "rank")
    },
    oracle = oLsh),

    // Embedding near-dup pairs within IVF cells.
    Query("q31_embed_dup", (s, dir) => {
      Dedup.embeddingDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        strideCentroids(s, dir), threshold = 0.3).orderBy("i", "j")
    },
    oracle =
      s"""WITH $oNorms,
         |$oCells
         |SELECT a.id AS i, b.id AS j, ${oCos("na", "nb")} AS cos
         |FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
         |JOIN norms na ON na.vec_id = a.id
         |JOIN norms nb ON nb.vec_id = b.id
         |WHERE ${oCos("na", "nb")} >= 0.3
         |ORDER BY i, j""".stripMargin),

    // Corpus token frequencies: explode tokens → count → top-k.
    Query("q33_token_freq", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("token")).limit(50)
    },
    oracle =
      s"""SELECT token, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT unnest($oToks) AS token FROM documents)
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin),

    // Multimodal payload META table over a MIXED corpus (round-14
    // oracle-depth upgrade; binary-attach plumbing stays unit-covered
    // in OperatorsSpec): even docs carry their TEXT as the payload
    // (kind text/plain, content-addressed md5 the oracle recomputes),
    // odd docs carry a constructed IMAGE (kind rewritten from the REAL
    // pixel decode, plus pixel-derived n_pixels and dHash the oracle
    // re-derives arithmetically). Truncated image payloads (%10==7 —
    // all odd) keep their opaque kind with NULL everywhere but size.
    Query("q32_multimodal_meta", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          if (id % 2 == 0) Multimodal.MediaRecord(id, "text/plain",
            Option(text).getOrElse("").getBytes("UTF-8"))
          else Multimodal.MediaRecord(id, "application/octet-stream",
            PixelFixtures.payload(id))
        }).toDF()
      media.withColumn("__s", graft.functions.pixelStats(col("content")))
        .select(col("doc_id"),
          coalesce(concat(lit("image/"), col("__s.format")), col("kind"))
            .as("kind"),
          length(col("content")).cast("long").as("n_bytes"),
          when(col("kind") === "text/plain", md5(col("content")))
            .as("checksum"),
          col("__s.n_pixels").as("n_pixels"),
          col("__s.dhash").as("dhash"))
        .orderBy("doc_id")
    },
    // Mixed-corpus media META (round-14 pixel upgrade): text payloads
    // checksum via DuckDB's own md5; image payloads' kind / size /
    // n_pixels / dHash re-derive from the PixelFixtures arithmetic.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, text, doc_id % 2 = 1 AS img, doc_id % 3 AS m,
         |    doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h,
         |    doc_id % 10 = 7 AS corrupt
         |  FROM documents),
         |lum AS (
         |  SELECT doc_id, w, h, u.x AS x, u.y AS y,
         |    CASE WHEN m = 0 THEN u.p * 1000
         |      ELSE 299 * u.p + 587 * ((u.p * 3) % 256)
         |        + 114 * ((u.p * 5) % 256) END AS lum
         |  FROM (
         |    SELECT doc_id, m, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + doc_id % 31) * (y + doc_id % 37) * 3
         |                 + doc_id) % 256})))) AS u
         |    FROM d WHERE img AND NOT corrupt)),
         |${oDhashCtes(Seq("doc_id"), "k")},
         |dh AS (
         |  SELECT doc_id, sum(CAST(1 AS HUGEINT) << CAST(k AS INT)) AS hraw
         |  FROM bits GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN NOT d.img THEN 'text/plain'
         |    WHEN d.corrupt THEN 'application/octet-stream'
         |    WHEN d.m = 2 THEN 'image/bmp' ELSE 'image/png' END AS kind,
         |  CAST(CASE WHEN NOT d.img
         |      THEN octet_length(encode(coalesce(d.text, '')))
         |    WHEN d.corrupt THEN 40
         |    WHEN d.m = 0 THEN 68 + d.h * (1 + d.w)
         |    WHEN d.m = 1 THEN 68 + d.h * (1 + 3 * d.w)
         |    ELSE 54 + d.h * (((3 * d.w + 3) // 4) * 4) END AS BIGINT)
         |    AS n_bytes,
         |  CASE WHEN NOT d.img THEN md5(coalesce(d.text, '')) END
         |    AS checksum,
         |  CASE WHEN d.img AND NOT d.corrupt
         |    THEN CAST(d.w * d.h AS BIGINT) END AS n_pixels,
         |  CASE WHEN d.img AND NOT d.corrupt THEN CAST(coalesce(dh.hraw, 0)
         |    - CASE WHEN coalesce(dh.hraw, 0) >= 9223372036854775808
         |        THEN 18446744073709551616 ELSE 0 END AS BIGINT) END
         |    AS dhash
         |FROM d LEFT JOIN dh USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // int8 embedding quantization: per-vector scale, codes, exact MSE.
    // max_abs and the code array are materialized ONCE as columns; every
    // consumer (elements, mse) references the attribute instead of
    // re-running the array folds per use.
    Query("q34_embed_quantize", (s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("max_abs", Quantization.maxAbs(col("embedding")))
        .withColumn("__q", Quantization.quantizeScaled(col("embedding"), col("max_abs")))
        .select(
          col("vec_id"),
          col("max_abs"),
          element_at(col("__q"), 1).as("q1"),
          element_at(col("__q"), 2).as("q2"),
          element_at(col("__q"), 3).as("q3"),
          Quantization.quantizationMseScaled(col("embedding"), col("max_abs"),
            col("__q")).as("mse"))
        .orderBy("vec_id")
    },
    oracle =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v,
        |         list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
        |                     (a, b) -> greatest(a, b)) AS mx
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, mx,
        |         CASE WHEN mx = 0
        |              THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(v, x -> greatest(-127, least(127,
        |                CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT)))) END AS qv
        |  FROM m)
        |SELECT vec_id, mx AS max_abs, qv[1] AS q1, qv[2] AS q2, qv[3] AS q3,
        |       CASE WHEN mx = 0 THEN NULL
        |            ELSE list_reduce(list_prepend(0.0, list_transform(range(len(v)),
        |              i -> (v[i+1] - qv[i+1] / (127.0 / mx)) * (v[i+1] - qv[i+1] / (127.0 / mx)))),
        |              (a, b) -> a + b) / len(v) END AS mse
        |FROM q ORDER BY vec_id""".stripMargin),

    // One Lloyd's k-means iteration over the embeddings (train centroids,
    // reassign, count cells) — the oracle replicates the full iteration in
    // SQL including the float rounding of the updated centroids.
    Query("q37_kmeans_cells", (s, dir) => {
      val corpus = t(s, dir, "embeddings")
      val trained = Similarity.kMeansCentroids(corpus, "vec_id", "embedding",
        strideCentroids(s, dir), iterations = 1)
      Similarity.ivfAssign(corpus, "vec_id", "embedding", trained)
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
        .orderBy("cell")
    },
    oracle =
      s"""WITH $oNorms,
         |$oCells,
         |grouped AS (
         |  SELECT cells.cell, count(*) AS n, list(norms.v) AS vs
         |  FROM cells JOIN norms ON norms.vec_id = cells.id
         |  GROUP BY cells.cell),
         |trained AS (
         |  SELECT c0.cid,
         |         CASE WHEN g.cell IS NULL THEN CAST(c0.v AS REAL[])
         |              ELSE list_transform(range(64), j ->
         |                CAST(list_reduce(list_prepend(0.0,
         |                       list_transform(g.vs, x -> x[j+1])), (a, b) -> a + b)
         |                     / g.n AS REAL)) END AS cvec
         |  FROM centroids c0 LEFT JOIN grouped g ON g.cell = c0.cid),
         |tn AS (
         |  SELECT cid, CAST(cvec AS DOUBLE[]) AS v,
         |         sqrt(list_reduce(list_prepend(0.0,
         |           list_transform(CAST(cvec AS DOUBLE[]), x -> x*x)), (a, b) -> a + b)) AS nrm
         |  FROM trained),
         |assign1 AS (
         |  SELECT vec_id AS id, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${oCos("e", "c")} DESC, c.cid) AS rn
         |    FROM norms e CROSS JOIN tn c)
         |  WHERE rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS cnt
         |FROM assign1 GROUP BY cell ORDER BY cell""".stripMargin),

    // Deterministic stratified sample: exact per-language fractions,
    // reproducible (hash-ordered, no rand()).
    Query("q35_stratified_sample", (s, dir) => {
      Sampling.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", 0.2)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    },
    oracle =
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (((doc_id % 2147483648) * 2654435761) % 4294967296) % 1000000, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM ranked
        |WHERE rn <= ceil(n * 0.2)
        |ORDER BY lang, doc_id""".stripMargin),

    // Exact dedup for LARGE payloads: only (id, digest) rides the dedup
    // shuffle, payloads join back by id — the 100 TB exact-dedup path.
    Query("q40_dedup_digest", (s, dir) => {
      Dedup.exactDedupByDigest(t(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    oracle =
      """SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // Multimodal mapPartitions feature extraction — REAL pixel decode
    // as of round 14 (the q290/q333 oracle-depth direction): the
    // partition-batched pass decodes each constructed PNG/BMP payload
    // through the native kernel and emits PIXEL-derived columns — pixel
    // count and the 8-bucket LUMINANCE histogram — that the oracle
    // re-derives from the fixture's pixel arithmetic without touching a
    // byte. Truncated payloads (%10==7) keep their original kind with
    // NULL pixel fields (quarantine).
    Query("q41_multimodal_features", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => Multimodal.MediaRecord(
          id, "application/octet-stream", PixelFixtures.payload(id))))
      val cols = Seq(col("doc_id"), col("kind"), col("n_bytes"),
        col("n_pixels")) ++
        (0 until 8).map(i => element_at(col("lum_hist"), i + 1).as(s"h$i"))
      Multimodal.pixelFeatures(media).toDF()
        .select(cols: _*).orderBy("doc_id")
    },
    oracle = oMultimodalFeatures),

    // Repetition metrics (Gopher-style quality rule): duplicate lines +
    // most-repeated-bigram ratio, all per-row narrow projections.
    Query("q42_repetition", (s, dir) => {
      // Every metric is computed ONCE as a materialized column and
      // referenced by attribute. In particular n_bigrams is token-count
      // ARITHMETIC (greatest(|tokens|-1, 0) — qualityGate's __nb
      // pattern and the oracle's own formula), never size(shingles):
      // building the string-bigram array through the interpreted HOF
      // chain just to take its length was ~6s of this query's 7s at
      // sf0.1 under the materializing bench action (three size(bi)
      // references, each an interpreted shingle pass per row).
      t(s, dir, "documents")
        .withColumn("top_bigram_cnt", TextAnalysis.maxNgramRepeat(col("text"), 2))
        .withColumn("__lines", TextAnalysis.docLines(col("text")))
        .withColumn("n_bigrams",
          greatest(size(TextAnalysis.tokens(col("text"))) - 1, lit(0))
            .cast("long"))
        .select(
          col("doc_id"),
          size(col("__lines")).cast("long").as("n_lines"),
          (size(col("__lines")) - size(array_distinct(col("__lines"))))
            .cast("long").as("n_dup_lines"),
          col("n_bigrams"),
          col("top_bigram_cnt"),
          when(col("n_bigrams") > 0,
            col("top_bigram_cnt").cast("double") / col("n_bigrams"))
            .as("rep_ratio"))
        .orderBy("doc_id")
    },
    oracle =
      s"""WITH toks AS (
         |  SELECT doc_id, text, $oToks AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS b
         |  FROM toks),
         |top AS (
         |  SELECT doc_id, max(c) AS top FROM (
         |    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
         |  GROUP BY doc_id)
         |SELECT t.doc_id,
         |       CAST(len(string_split(t.text, chr(10))) AS BIGINT) AS n_lines,
         |       CAST(len(string_split(t.text, chr(10)))
         |            - len(list_distinct(string_split(t.text, chr(10)))) AS BIGINT) AS n_dup_lines,
         |       CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_bigrams,
         |       CAST(coalesce(top.top, 0) AS BIGINT) AS top_bigram_cnt,
         |       CASE WHEN len(tk) > 1
         |            THEN CAST(top.top AS DOUBLE) / (len(tk) - 1) END AS rep_ratio
         |FROM toks t LEFT JOIN top ON top.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // PII-ish pattern counts (emails / IPv4 / long digit runs) — the
    // pre-training scrub pass, regexes held to the Java∩RE2 subset.
    Query("q43_pii_scan", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.emailCount(col("text")).as("n_emails"),
        TextAnalysis.ipv4Count(col("text")).as("n_ipv4"),
        TextAnalysis.longDigitCount(col("text")).as("n_long_digits"))
        .orderBy("doc_id")
    },
    oracle =
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
        |       CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_long_digits
        |FROM documents ORDER BY doc_id""".stripMargin),

    // KMV bottom-k distinct sketch per source (bounded-state custom
    // aggregate over the portable hash) vs the exact distinct count —
    // estimate AND sketch content are oracle-checked.
    Query("q46_kmv_sketch", (s, dir) => {
      val k = 32
      t(s, dir, "documents")
        .select(col("source"), TextAnalysis.fingerprint(col("text")).as("__h"))
        .groupBy("source")
        .agg(graft.operators.Sketch.bottomKHashes(col("__h"), k).as("__sk"),
          countDistinct(col("__h")).as("n_distinct_hash"))
        .select(col("source"), col("n_distinct_hash"),
          size(col("__sk")).cast("long").as("sk_size"),
          when(size(col("__sk")) >= k, element_at(col("__sk"), k)).as("h_k"),
          graft.operators.Sketch.kmvDistinctEstimate(col("__sk"), k,
            TextAnalysis.HashMod).as("est"))
        .orderBy("source")
    },
    oracle =
      s"""WITH h AS (
         |  SELECT source, ${oPolyHash("text")} AS hv FROM documents),
         |agg AS (
         |  SELECT source,
         |         CAST(count(DISTINCT hv) AS BIGINT) AS n_distinct_hash,
         |         list_sort(list(DISTINCT hv))[1:32] AS sk
         |  FROM h GROUP BY source)
         |SELECT source, n_distinct_hash,
         |       CAST(len(sk) AS BIGINT) AS sk_size,
         |       sk[32] AS h_k,
         |       CASE WHEN len(sk) < 32 THEN CAST(len(sk) AS DOUBLE)
         |            ELSE 31.0 * 1000000007 / sk[32] END AS est
         |FROM agg ORDER BY source""".stripMargin),

    // Near-dup PAIRS → dedup CLUSTERS: connected components (min-label
    // propagation + pointer jumping) over the SimHash pair graph; every
    // doc labeled with its cluster id, cluster size, and whether it is
    // the canonical (min-id) survivor a dedup pass keeps.
    Query("q47_dedup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      // simhashMatches, not simhashPairs: CC's min-aggregate absorbs the
      // per-band duplicate edges, so the pair-distinct shuffle is skipped.
      val pairs = Dedup.simhashMatches(docs, "doc_id", "text", maxHamming = 2)
      graft.operators.Components.dedupClusters(docs, "doc_id", pairs)
        .orderBy("doc_id")
    },
    // Sequential ground truth for the parallel CC fixpoint: a recursive
    // CTE floods every doc id across the (symmetrized) SimHash pair graph;
    // min over the reached set IS the component-min label.
    oracle =
      s"""WITH RECURSIVE toksrc AS (SELECT doc_id, text FROM documents),
         |$oSimhash,
         |pairs AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         |${oFloodCtes("doc_id", "documents")},
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
         |       FROM lab GROUP BY component)
         |SELECT l.doc_id, l.component, s.n_members,
         |       CAST(l.doc_id = l.component AS BIGINT) AS is_canonical
         |FROM lab l JOIN sz s USING (component)
         |ORDER BY l.doc_id""".stripMargin),

    // Benchmark decontamination: trigram-shingle overlap of every corpus
    // doc against a (broadcast) benchmark slice — corpus never shuffles.
    Query("q48_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
      graft.operators.Decontaminate.benchmarkOverlap(
        docs, "doc_id", "text", bench, "doc_id", "text",
        n = 3, threshold = 0.5)
        .orderBy("doc_id")
    },
    oracle =
      s"""WITH toks AS (
         |  SELECT doc_id, $oToks AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(tk) - 1),
         |      i -> list_aggregate(tk[i:i+2], 'string_agg', ' ')))) AS s
         |  FROM toks),
         |bench AS (SELECT doc_id AS bid, s FROM sh WHERE doc_id % 50 = 0),
         |bsz AS (SELECT bid, count(*) AS bn FROM bench GROUP BY bid),
         |hits AS (
         |  SELECT a.doc_id, b.bid, count(*) AS c
         |  FROM sh a JOIN bench b ON a.s = b.s GROUP BY 1, 2),
         |scored AS (
         |  SELECT h.doc_id, h.bid, h.c,
         |         CAST(h.c AS DOUBLE) / bsz.bn AS frac,
         |         row_number() OVER (PARTITION BY h.doc_id
         |           ORDER BY CAST(h.c AS DOUBLE) / bsz.bn DESC, h.bid) AS rn
         |  FROM hits h JOIN bsz USING (bid))
         |SELECT d.doc_id, s.bid AS bench_id,
         |       CAST(coalesce(s.c, 0) AS BIGINT) AS common,
         |       coalesce(s.frac, 0.0) AS frac,
         |       CAST(coalesce(s.frac, 0.0) >= 0.5 AS BIGINT) AS contaminated
         |FROM documents d
         |LEFT JOIN (SELECT * FROM scored WHERE rn = 1) s ON s.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Corpus-wide duplicate-line removal (CCNet-style), keep-first,
    // reassembled per doc. The synthetic docs are single-line, so tokens
    // are re-delimited to lines — which makes every repeated WORD a hot
    // dedup key and stresses exactly the map-side-combine skew path.
    Query("q49_line_dedup", (s, dir) => {
      val lined = t(s, dir, "documents")
        .select(col("doc_id"), translate(col("text"), " ", "\n").as("text"))
      LineDedup.dedupLines(lined, "doc_id", "text").orderBy("doc_id")
    },
    // first corpus-wide occurrence = min packed (doc_id, pos); winner rows
    // reconstructed from the packed min, reassembled in position order.
    oracle =
      """WITH docs AS (
        |  SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, chr(10))) AS line,
        |         unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM docs),
        |w AS (
        |  SELECT line, min(doc_id * 1000000 + pos) AS ord FROM lines GROUP BY line),
        |winners AS (
        |  SELECT ord // 1000000 AS doc_id, ord % 1000000 AS pos, line FROM w),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY pos) AS text_dedup
        |  FROM winners GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(r.text_dedup, '') AS text_dedup
        |FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Training-mixture sampling: per-language fractions, deterministic
    // and exact per stratum (scale-safe histogram plan, like q35).
    Query("q50_mixture_sample", (s, dir) => {
      Sampling.mixtureSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1), defaultFraction = 0.05)
        .select("doc_id", "lang").orderBy("lang", "doc_id")
    },
    oracle =
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (((doc_id % 2147483648) * 2654435761) % 4294967296) % 1000000, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM ranked
        |WHERE rn <= ceil(n * (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
        |                      WHEN 'fr' THEN 0.1 ELSE 0.05 END))
        |ORDER BY lang, doc_id""".stripMargin),

    // Sequence packing: token offsets + context-window shard ids over 8
    // independent concatenated streams.
    Query("q51_token_shards", (s, dir) => {
      val sized = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.tokenShards(sized, "doc_id", "n_tokens",
        contextLen = 2048, streams = 8).orderBy("doc_id")
    },
    oracle =
      s"""WITH sized AS (
         |  SELECT doc_id, CAST(len($oToks) AS BIGINT) AS n_tokens FROM documents),
         |s AS (
         |  SELECT doc_id, n_tokens,
         |         (((doc_id % 2147483648) * 2654435761) % 4294967296) % 8 AS stream
         |  FROM sized),
         |c AS (
         |  SELECT doc_id, n_tokens, stream,
         |         CAST(sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id)
         |              - n_tokens AS BIGINT) AS "offset"
         |  FROM s)
         |SELECT doc_id, n_tokens, stream, "offset", "offset" // 2048 AS shard
         |FROM c ORDER BY doc_id""".stripMargin),

    // Per-group top-k curation (two-phase salted rank — no whole-group
    // single-task sort), longest 5 docs per language.
    Query("q52_topk_per_group", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      TopK.topKPerGroup(scored, "lang", "n_tokens", "doc_id", k = 5, salts = 8)
        .orderBy("lang", "rank")
    },
    oracle =
      s"""WITH scored AS (
         |  SELECT doc_id, lang, CAST(len($oToks) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT doc_id, lang, n_tokens, rank FROM r
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),

    // TF-IDF keyword extraction: top-3 terms per doc by the rational-idf
    // weight (log-free so scores are bit-portable across engines).
    Query("q53_tfidf", (s, dir) => {
      // broadcastVocab: the distinct vocabulary is orders of magnitude
      // smaller than the (doc, term) rows (Heaps' law), so the df stats
      // broadcast and the dominant side never shuffles for the join-back
      TfIdf.termWeights(t(s, dir, "documents"), "doc_id", "text",
        broadcastVocab = true)
        .filter(col("rank") <= 3).orderBy("doc_id", "rank")
    },
    oracle =
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($oToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         |         CAST(tf.tf AS DOUBLE) * (nn.n + 1) / (dfx.df + 1) AS tfidf
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nn),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS BIGINT) AS rank FROM sc)
         |SELECT doc_id, term, tf, df, tfidf, rank FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // BM25 (rational-idf variant — log-free so scores hash-match across
    // engines; see TfIdf.bm25). Length-saturated term weighting is the
    // production retrieval scorer; top-3 terms per doc like q53.
    Query("q72_bm25", (s, dir) => {
      TfIdf.bm25(spreadDocs(t(s, dir, "documents")), "doc_id", "text",
        broadcastVocab = true)
        .filter(col("rank") <= 3).orderBy("doc_id", "rank")
    },
    // BM25, parenthesization mirrored op-for-op against TfIdf.bm25 so
    // every IEEE rounding step coincides. Constants are CAST to DOUBLE:
    // DuckDB parses bare decimal literals as DECIMAL, whose arithmetic
    // rounds differently.
    oracle = {
      val k1p1 = "CAST(2.2 AS DOUBLE)" // k1 + 1
      val k1 = "CAST(1.2 AS DOUBLE)"
      val oneMinusB = "CAST(0.25 AS DOUBLE)" // 1 - b
      val bC = "CAST(0.75 AS DOUBLE)"
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($oToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |ad AS (SELECT CAST((SELECT coalesce(sum(tf), 0) FROM tf) AS DOUBLE)
         |              / (SELECT n FROM nn) AS avgdl),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df, dls.dl,
         |         (CAST(nn.n + 1 AS DOUBLE) / (dfx.df + 1)) *
         |           (CAST(tf.tf AS DOUBLE) * $k1p1) /
         |           (CAST(tf.tf AS DOUBLE) +
         |            $k1 * ($oneMinusB + ($bC * dls.dl) / ad.avgdl)) AS bm25
         |  FROM tf JOIN dfx USING (term) JOIN dls USING (doc_id)
         |  CROSS JOIN nn CROSS JOIN ad),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY bm25 DESC, term) AS BIGINT) AS rank FROM sc)
         |SELECT doc_id, term, tf, df, dl, bm25, rank FROM r
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    }),

    // Inverted index: per-term df / total tf / bounded posting list
    // (TopK-composed prefix — no unbounded collect per term).
    Query("q54_posting_lists", (s, dir) => {
      InvertedIndex.postingLists(t(s, dir, "documents"), "doc_id", "text",
        maxPostings = 10).orderBy("term")
    },
    oracle =
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($oToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
         |  FROM tf GROUP BY 1),
         |top AS (
         |  SELECT term, doc_id,
         |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
         |  FROM tf),
         |p AS (
         |  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         |  FROM top WHERE rn <= 10 GROUP BY term)
         |SELECT term, df, total_tf, postings
         |FROM stats JOIN p USING (term) ORDER BY term""".stripMargin),

    // Exact per-language median doc length via the histogram-cumulate
    // plan — no per-group row sort.
    Query("q55_group_median", (s, dir) => {
      ExactQuantiles.medianByGroup(t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("lang")
    },
    oracle =
      """WITH h AS (
        |  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT lang, CAST(min(n) AS BIGINT) AS n, min(v) AS median
        |FROM cum WHERE cum * 2 >= n GROUP BY lang ORDER BY lang""".stripMargin),

    // Fixed-width length histogram (250-char buckets, clamped overflow
    // bucket): the profiling pass before choosing length filters.
    Query("q59_histogram", (s, dir) => {
      graft.operators.Profiling.histogram(t(s, dir, "documents"),
        col("n_chars"), width = 250, maxBucket = 15).orderBy("bucket")
    },
    oracle =
      """SELECT CAST(least(15, n_chars // 250) AS BIGINT) AS bucket,
        |       CAST(least(15, n_chars // 250) * 250 AS BIGINT) AS lo,
        |       CAST(count(*) AS BIGINT) AS n,
        |       min(n_chars) AS min_v, max(n_chars) AS max_v
        |FROM documents GROUP BY 1, 2 ORDER BY bucket""".stripMargin),

    // Seeded ±1 random projection (Johnson–Lindenstrauss) 64→16 dims:
    // map-only, sign matrix as plan literals, bit-exact double fold.
    Query("q127_random_projection", (s, dir) => {
      // Exploded to (vec_id, dim, proj) scalar rows — the driver's
      // pandas checker cannot sort an ARRAY<DOUBLE> column (round-9
      // burn); the per-coordinate rows carry the identical values.
      graft.operators.Projection.randomProject(t(s, dir, "embeddings"),
        "embedding", dOut = 16, seed = 7L, dIn = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "proj")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("proj"))
        .orderBy("vec_id", "dim")
    },
    oracle =
      // Exploded scalar rows (vec_id, dim, proj) straight from pcoord —
      // no list assembly, matching the engine's posexplode output.
      s"""WITH $oProjCtes
         |SELECT vec_id, CAST(j AS BIGINT) AS dim, pj AS proj
         |FROM pcoord ORDER BY vec_id, dim""".stripMargin),

    // Recall@5 of brute-force top-k IN PROJECTED SPACE (q127's 16-dim
    // signs) vs the exact 64-dim baseline — measures what the 4× scoring
    // speedup costs, the q60/q85 harness pattern. On this near-isotropic
    // synthetic corpus the measured recall is LOW (~0.15 mean): JL
    // preserves distances, not the razor-thin cosine margins of uniform
    // random vectors — exactly the corpus property the harness exists to
    // expose before anyone ships a projection dim.
    Query("q128_projection_recall", (s, dir) => {
      val exact = Similarity.bruteForceTopK(queriesSubset(s, dir),
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
      val approx = graft.operators.Projection.projectedTopK(
        queriesSubset(s, dir), t(s, dir, "embeddings"), "vec_id",
        "embedding", dOut = 16, seed = 7L, dIn = 64, k = 5)
      Similarity.recallAtK(exact, approx, "qid", "nid", k = 5).orderBy("qid")
    },
    // Recall@5 of projected-space top-k against the exact 64-dim brute
    // force — projection CTEs + the q60 recall-join shape.
    oracle =
      s"""WITH $oNorms,
         |$oProjCtes,
         |bscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCos("q", "c")} AS cos
         |  FROM norms q JOIN norms c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |branked AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM bscored),
         |brute AS (SELECT qid, nid FROM branked WHERE rank <= 5),
         |pnorm AS (
         |  SELECT vec_id, pv,
         |         sqrt(list_reduce(list_prepend(0.0,
         |           list_transform(pv, x -> x*x)), (a, b) -> a + b)) AS pn
         |  FROM pvec),
         |pscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |         CASE WHEN q.pn * c.pn != 0 THEN
         |           list_reduce(list_prepend(0.0, list_transform(range(16),
         |             i -> q.pv[i+1] * c.pv[i+1])), (x, y) -> x + y)
         |             / (q.pn * c.pn)
         |         END AS pcos
         |  FROM pnorm q JOIN pnorm c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |pranked AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, nid) AS rank
         |  FROM pscored),
         |papprox AS (SELECT qid, nid FROM pranked WHERE rank <= 5)
         |SELECT b.qid, CAST(count(p.nid) AS BIGINT) AS hits,
         |       CAST(count(p.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM brute b LEFT JOIN papprox p ON p.qid = b.qid AND p.nid = b.nid
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin),

    // Winnowing (MOSS) fingerprints: per-doc windowed min-hash selection
    // over the positional 3-gram hash sequence, rightmost tie-break —
    // the ~w/2×-smaller near-dup index with the coverage guarantee.
    Query("q129_winnow_fingerprints", (s, dir) => {
      graft.operators.Winnow.fingerprints(
        t(s, dir, "documents"), "doc_id", "text", n = 3, w = 8)
        .orderBy("doc_id", "pos")
    },
    // Winnowing: q65's positional-gram CTE, polyHash per gram, packed
    // (mod−h)·2^32+pos key so the windowed max IS (min hash, rightmost
    // pos), full windows only, distinct decode.
    oracle =
      s"""WITH toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> {'pos': i - 1,
         |            'gram': list_aggregate(tk[i:i+2], 'string_agg', ' ')})) AS u
         |    FROM toks)),
         |keys AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |         (1000000007 - ${oPolyHash("gram")}) * 4294967296 + pos AS k
         |  FROM grams),
         |wins AS (
         |  SELECT doc_id, pos,
         |         max(k) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wk
         |  FROM keys)
         |SELECT DISTINCT doc_id, wk % 4294967296 AS pos,
         |       1000000007 - wk // 4294967296 AS fp
         |FROM wins WHERE pos >= 7 ORDER BY doc_id, pos""".stripMargin),

    // Winnow-indexed near-dup pairs: candidates share a selected
    // fingerprint (the ~w/2×-smaller index of q129), stop-fingerprints
    // df-capped, exact-Jaccard verified — the long-quote detector.
    Query("q135_winnow_pairs", (s, dir) => {
      graft.operators.Dedup.winnowPairs(
        t(s, dir, "documents"), "doc_id", "text",
        n = 3, w = 8, threshold = 0.5, maxDf = 100)
        .orderBy("i", "j")
    },
    // Winnow pairs: q129's selection CTEs (toks shared with the
    // verification CTEs), df-capped fingerprint self-join, q23's exact
    // Jaccard.
    oracle =
      s"""WITH ${oJaccardCtes(3)},
         |grams AS (
         |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> {'pos': i - 1,
         |            'gram': list_aggregate(tk[i:i+2], 'string_agg', ' ')})) AS u
         |    FROM toks)),
         |keys AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |         (1000000007 - ${oPolyHash("gram")}) * 4294967296 + pos AS k
         |  FROM grams),
         |wins AS (
         |  SELECT doc_id, pos,
         |         max(k) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wk
         |  FROM keys),
         |sel AS (
         |  SELECT DISTINCT doc_id, 1000000007 - wk // 4294967296 AS fp
         |  FROM wins WHERE pos >= 7),
         |keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 100),
         |cd AS (
         |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM sel a JOIN keep USING (fp)
         |  JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id)
         |SELECT c.i, c.j, jac.common, jac.jaccard
         |FROM cd c JOIN jac ON jac.i = c.i AND jac.j = c.j
         |WHERE jac.jaccard >= 0.5 ORDER BY c.i, c.j""".stripMargin),

    // Sorted-neighborhood blocking (merge/purge): rank by 32-char text
    // prefix via the histogram-offset global ordinal, pair within 8
    // ranks through the adjacent-block join, exact-Jaccard verify.
    Query("q130_sorted_neighborhood", (s, dir) => {
      graft.operators.Dedup.sortedNeighborhoodPairs(
        t(s, dir, "documents"), "doc_id", "text",
        w = 8, n = 2, threshold = 0.6)
        .orderBy("i", "j")
    },
    // Sorted neighborhood: rank by (prefix, id), pairs within 7 ranks,
    // then the shared exact-Jaccard CTEs. NULLS FIRST pins DuckDB's
    // default-last NULL order to Spark's default-first.
    oracle =
      s"""WITH ${oJaccardCtes(2)},
         |ranked AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY substr(text, 1, 32) NULLS FIRST, doc_id) - 1 AS r
         |  FROM documents),
         |cand AS (
         |  SELECT least(a.doc_id, b.doc_id) AS i,
         |         greatest(a.doc_id, b.doc_id) AS j
         |  FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND 7)
         |SELECT c.i, c.j, jac.common, jac.jaccard
         |FROM cand c JOIN jac ON jac.i = c.i AND jac.j = c.j
         |WHERE jac.jaccard >= 0.6 ORDER BY c.i, c.j""".stripMargin),

    // ANN evaluation: recall@5 of the IVF path (q30) against the exact
    // brute-force baseline (q29), per query.
    Query("q60_ann_recall", (s, dir) => {
      val exact = Similarity.bruteForceTopK(queriesSubset(s, dir),
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
      val approx = Similarity.ivfTopK(queriesSubset(s, dir),
        t(s, dir, "embeddings"), strideCentroids(s, dir),
        "vec_id", "embedding", k = 5, nProbe = 5)
      Similarity.recallAtK(exact, approx, "qid", "nid", k = 5).orderBy("qid")
    },
    // Recall@5 of the q30 IVF CTEs against the q29 brute-force CTEs —
    // both re-derived here verbatim so the metric is self-contained.
    oracle =
      s"""WITH $oNorms,
         |$oCells,
         |bscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCos("q", "c")} AS cos
         |  FROM norms q JOIN norms c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |branked AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM bscored),
         |brute AS (SELECT qid, nid FROM branked WHERE rank <= 5),
         |probed AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.vec_id AS qid, c.cid AS cell,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${oCos("q", "c")} DESC, c.cid) AS pr
         |    FROM norms q CROSS JOIN centroids c
         |    WHERE q.vec_id < 20)
         |  WHERE pr <= 5),
         |iranked AS (
         |  SELECT p.qid, n.vec_id AS nid,
         |         row_number() OVER (PARTITION BY p.qid
         |           ORDER BY ${oCos("q", "n")} DESC, n.vec_id) AS rank
         |  FROM probed p
         |  JOIN cells ON cells.cell = p.cell
         |  JOIN norms n ON n.vec_id = cells.id
         |  JOIN norms q ON q.vec_id = p.qid
         |  WHERE n.vec_id <> p.qid),
         |ivf AS (SELECT qid, nid FROM iranked WHERE rank <= 5)
         |SELECT b.qid, CAST(count(i.nid) AS BIGINT) AS hits,
         |       CAST(count(i.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM brute b LEFT JOIN ivf i ON i.qid = b.qid AND i.nid = b.nid
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin),

    // Context-window chunking: 500-char chunks with 100-char overlap;
    // rows carry offsets + md5 so chunk identity shuffles, not payload.
    Query("q62_chunking", (s, dir) => {
      graft.operators.Chunking.fixedChunks(t(s, dir, "documents"),
        "doc_id", "text", size = 500, overlap = 100)
        .orderBy("doc_id", "chunk_idx")
    },
    oracle =
      """WITH starts AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, greatest(len(text), 1), 400)) AS start
        |  FROM documents)
        |SELECT doc_id, CAST((start - 1) // 400 AS BIGINT) AS chunk_idx,
        |       CAST(start AS BIGINT) AS start,
        |       CAST(len(substr(text, start, 500)) AS BIGINT) AS chunk_len,
        |       md5(substr(text, start, 500)) AS checksum
        |FROM starts WHERE start <= len(text)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // End-to-end corpus dedup: SimHash pairs → connected components →
    // keep the canonical (min-id) doc per cluster, one anti-join.
    Query("q63_dedup_corpus", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashMatches(docs, "doc_id", "text", maxHamming = 2)
      graft.operators.Components.keepCanonical(docs, "doc_id", pairs)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    // q47's recursive-CTE labeling, reduced to the canonical survivors.
    oracle =
      s"""WITH RECURSIVE toksrc AS (SELECT doc_id, text FROM documents),
         |$oSimhash,
         |pairs AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         |${oFloodCtes("doc_id", "documents")}
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN lab ON lab.doc_id = d.doc_id
         |WHERE lab.doc_id = lab.component
         |ORDER BY d.doc_id""".stripMargin),

    // q63 on the SCALE configuration: wide (56-bit) simhash pairs →
    // connected components → canonical survivors. Same pipeline a
    // 100 TB run would execute — the wide bands keep candidate buckets
    // sub-quadratic (SHUFFLE_AUDIT.md: 24× less candidate traffic than
    // the 28-bit demo on the same corpus).
    Query("q70_dedup_corpus_wide", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashMatchesWide(docs, "doc_id", "text", maxHamming = 2)
      graft.operators.Components.keepCanonical(docs, "doc_id", pairs)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    // q63's recursive-CTE labeling over the WIDE pair graph.
    oracle =
      s"""WITH RECURSIVE ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 2)},
         |${oFloodCtes("doc_id", "documents")}
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN lab ON lab.doc_id = d.doc_id
         |WHERE lab.doc_id = lab.component
         |ORDER BY d.doc_id""".stripMargin),

    // Incremental dedup — the production increment shape: an arriving
    // batch (doc_id % 7 = 0 here) matched against the EXISTING corpus
    // via its persisted signature table plus within itself, without
    // re-pairing the corpus. Cross pairs orient (existing, new) so the
    // min-id canonical stays the already-kept corpus doc.
    Query("q71_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = Dedup.wideSignatures(
        docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
      Dedup.simhashPairsWideIncremental(
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        existing, maxHamming = 2)
        .orderBy("i", "j")
    },
    // Incremental matches: cross pairs (existing -> new) keep the
    // (i = existing, j = new) orientation; within-batch pairs are the
    // usual i < j. The two sets are disjoint by membership, so UNION ALL.
    oracle =
      s"""WITH ${oWideSimhashCtes()},
         |newb AS (SELECT * FROM wide WHERE doc_id % 7 = 0),
         |oldb AS (SELECT * FROM wide WHERE doc_id % 7 <> 0)
         |SELECT i, j, hamming FROM (
         |  SELECT o.doc_id AS i, n.doc_id AS j,
         |         CAST(bit_count(xor(o.sig, n.sig)) AS BIGINT) AS hamming
         |  FROM oldb o JOIN newb n ON bit_count(xor(o.sig, n.sig)) <= 2
         |  UNION ALL
         |  SELECT a.doc_id AS i, b.doc_id AS j,
         |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM newb a JOIN newb b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2)
         |ORDER BY i, j""".stripMargin),

    // Exact per-language winsorization of doc lengths at [10%, 90%] —
    // integer-exact rational quantiles via the histogram-cumulate plan.
    Query("q64_winsorize", (s, dir) => {
      graft.operators.ExactQuantiles.winsorizeByGroup(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", loNum = 1, hiNum = 9, den = 10)
        .select("doc_id", "lang", "n_chars", "n_chars_clipped")
        .orderBy("doc_id")
    },
    oracle =
      """WITH h AS (
        |  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |qs AS (
        |  SELECT lang,
        |         min(CASE WHEN cum * 10 >= n * 1 THEN v END) AS qlo,
        |         min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS qhi
        |  FROM cum GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |       least(greatest(n_chars, qlo), qhi) AS n_chars_clipped
        |FROM documents d JOIN qs ON d.lang = qs.lang
        |ORDER BY doc_id""".stripMargin),

    // Corpus-repeated span coverage (the linear-time exact-substring-dedup
    // proxy): fraction of each doc's tokens covered by trigram windows
    // that occur in >= 2 distinct documents.
    Query("q65_span_coverage", (s, dir) => {
      graft.operators.Spans.repeatedSpanCoverage(
        t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
    // Trigram spans repeated across >= 2 docs; covered = union of the
    // 3-token windows (distinct positions), mirroring Spans'
    // posexplode-position arithmetic with 1-based list slices.
    oracle =
      s"""WITH toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> {'pos': i - 1,
         |            'gram': list_aggregate(tk[i:i+2], 'string_agg', ' ')})) AS u
         |    FROM toks)),
         |rep AS (
         |  SELECT gram FROM grams GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT doc_id, count(DISTINCT cp) AS covered FROM (
         |    SELECT g.doc_id, unnest(range(g.pos, g.pos + 3)) AS cp
         |    FROM grams g JOIN rep USING (gram))
         |  GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
         |       CASE WHEN len(t.tk) > 0
         |            THEN CAST(coalesce(c.covered, 0) AS DOUBLE) / len(t.tk)
         |            ELSE 0.0 END AS coverage
         |FROM toks t LEFT JOIN cov c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // Order-insensitive table fingerprint (migration verification): the
    // full checksum is an exact Decimal(38,0); the gate projects it
    // modulo 10^15 so both engines emit a plain BIGINT.
    Query("q67_table_checksum", (s, dir) => {
      graft.operators.Profiling.tableChecksum(t(s, dir, "documents"),
        col("doc_id"), col("lang"), col("source"), col("text"))
        .select(col("n_rows"),
          (col("checksum") % lit(1000000000000000L)).cast("long")
            .as("checksum_mod"))
    },
    oracle =
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(${oPolyHash(
               "md5(concat_ws(chr(1), doc_id, lang, source, text))")})
         |         % 1000000000000000 AS BIGINT) AS checksum_mod
         |FROM documents""".stripMargin),

    // Corpus profiling rollup over (lang, source) — grouping sets WITHOUT
    // the Expand multiplier: the raw scan is aggregated once at the
    // finest grain, coarser levels re-aggregate that small table
    // (GroupingSets scaladoc). gid carries Spark's grouping_id bit
    // pattern so a rollup NULL is distinguishable from a data NULL.
    Query("q73_rollup_stats", (s, dir) => {
      graft.operators.GroupingSets.rollup(
        t(s, dir, "documents"), Seq("lang", "source"), "n_chars")
        .orderBy(col("gid"), col("lang").asc_nulls_first,
          col("source").asc_nulls_first)
    },
    // ROLLUP via DuckDB's native grouping sets; GROUPING(lang, source)
    // emits the same bit pattern as Spark's grouping_id (leftmost dim =
    // highest bit). NULLS FIRST mirrors Spark's asc_nulls_first.
    oracle =
      """SELECT lang, source,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |       min(n_chars) AS min_v, max(n_chars) AS max_v,
        |       CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin),

    // Per-language length quartiles in ONE histogram pass — exact
    // lower-quantile semantics (no interpolation), one conditional-min
    // per quantile.
    Query("q74_group_quantiles", (s, dir) => {
      graft.operators.ExactQuantiles.quantilesByGroup(
        t(s, dir, "documents"), "lang", "n_chars",
        Seq(("p25", 1, 4), ("p50", 2, 4), ("p75", 3, 4)))
        .orderBy("lang")
    },
    oracle =
      """WITH h AS (
        |  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT lang, CAST(min(n) AS BIGINT) AS n,
        |       min(CASE WHEN cum * 4 >= n * 1 THEN v END) AS p25,
        |       min(CASE WHEN cum * 4 >= n * 2 THEN v END) AS p50,
        |       min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin),

    // Per-language length DECILE assignment for every doc — the
    // curriculum/length-bucketing primitive; tie-stable (equal lengths
    // share a bucket), no per-group row sort, no nondeterministic
    // ntile() row-order splits.
    Query("q75_length_buckets", (s, dir) => {
      graft.operators.ExactQuantiles.valueNtile(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", k = 10)
        .select("doc_id", "lang", "n_chars", "n_chars_bucket")
        .orderBy("doc_id")
    },
    // bucket = ceil(cum*k/n) = (cum*k - 1) // n + 1 — integer-exact in
    // both engines.
    oracle =
      """WITH h AS (
        |  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |b AS (
        |  SELECT lang, v,
        |         CAST((sum(c) OVER (PARTITION BY lang ORDER BY v) * 10 - 1)
        |              // (sum(c) OVER (PARTITION BY lang)) + 1 AS BIGINT)
        |           AS n_chars_bucket
        |  FROM h)
        |SELECT doc_id, d.lang, n_chars, n_chars_bucket
        |FROM documents d JOIN b ON d.lang = b.lang AND d.n_chars = b.v
        |ORDER BY doc_id""".stripMargin),

    // Product-quantization codes (8 blocks × 16 codes over dim 64): the
    // compressed vector-store representation — encode is one fused
    // map-only kernel pass, codebook from the deterministic first-k init
    // so the SQL oracle re-derives every code.
    Query("q76_pq_codes", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Pq.firstKCodebooks(
        emb, "vec_id", "embedding", m = 8, k = 16, dim = 64)
      graft.operators.Pq.encode(emb, "vec_id", "embedding", cb)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("block", "code")))
        .select(col("vec_id"), col("block").cast("long").as("block"), col("code"))
        .orderBy("vec_id", "block")
    },
    // PQ codes: per (vector, block) argmin-L2 against the first-16
    // codebook, squared distance as an init-free left fold (list_reduce's
    // first-element init equals the kernel's 0.0 + d² start bit-for-bit);
    // ties to the smallest code via (dist, code) ordering.
    oracle =
      s"""WITH ${oPqDistCtes()},
         |r AS (
         |  SELECT vec_id, block, code,
         |         row_number() OVER (PARTITION BY vec_id, block
         |                            ORDER BY dist, code) AS rn
         |  FROM d)
         |SELECT vec_id, CAST(block AS BIGINT) AS block, code
         |FROM r WHERE rn = 1 ORDER BY vec_id, block""".stripMargin),

    // ADC top-k over the PQ codes: the query's m×k distance table is a
    // plan literal; candidates are scanned as CODES (m longs), never as
    // float vectors. Distances = exact L2² to each vector's
    // reconstruction, bit-identical in the oracle by mirrored fold order.
    Query("q77_pq_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Pq.firstKCodebooks(
        emb, "vec_id", "embedding", m = 8, k = 16, dim = 64)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0).toArray
      graft.operators.Pq.adcTopK(emb, "vec_id", "embedding", q, cb, topK = 100)
    },
    // ADC: per-block distance table for the vec_id=0 query, summed over
    // each vector's codes in block order (list(ORDER BY block) +
    // init-free fold = the Spark aggregate's 0.0-seeded left fold).
    oracle =
      s"""WITH ${oPqDistCtes()},
         |$oPqCodesCte,
         |dt AS (
         |  SELECT dd.block, dd.code, dd.dist FROM d dd WHERE dd.vec_id = 0),
         |s AS (
         |  SELECT c.vec_id,
         |         list_reduce(list(dt.dist ORDER BY c.block), (a, x) -> a + x)
         |           AS adist
         |  FROM codes c JOIN dt ON dt.block = c.block AND dt.code = c.code
         |  GROUP BY c.vec_id)
         |SELECT vec_id, adist FROM s ORDER BY adist, vec_id LIMIT 100""".stripMargin),

    // BPE merge training on the corpus: 8 most-frequent-pair rounds over
    // the distinct-word table — the tokenizer-training step; merge list
    // is cross-engine exact (tie-break + greedy rewrite mirrored).
    Query("q92_bpe_merges", (s, dir) => {
      graft.operators.Bpe.trainMerges(t(s, dir, "documents"), "text",
        numMerges = 8).orderBy("step")
    },
    oracle = oBpe(8)),

    // The learned subword vocabulary after those 8 merges — train +
    // apply, the table a tokenizer ships with.
    Query("q93_bpe_vocab", (s, dir) => {
      graft.operators.Bpe.subwordVocab(t(s, dir, "documents"), "text",
        numMerges = 8).orderBy(desc("freq"), col("subword"))
    },
    oracle = oBpeVocab(8)),

    // Per-doc token counts under that learned tokenizer — the packing
    // budget metric (train once, tokenize by word-key join).
    Query("q94_bpe_doc_tokens", (s, dir) => {
      graft.operators.Bpe.bpeTokenCount(t(s, dir, "documents"), "doc_id",
        "text", numMerges = 8).orderBy("doc_id")
    },
    oracle = oBpeDocTokens(8)),

    // Deterministic EPOCH SHUFFLE: ordinals + shards in Knuth-hash
    // order — the seed-stable corpus shuffle a training run replays
    // (same manifest on any engine, any partitioning, any retry; no
    // rand()). Same histogram-offset plan as q80: the hash is the sort
    // key, its top bits the histogram bucket, so no global-window
    // funnel — the shuffle of a 100 TB corpus costs a bucket histogram
    // plus per-bucket local sorts.
    Query("q104_epoch_shuffle", (s, dir) => {
      val h = pmod(pmod(col("doc_id").cast("long"), lit(2147483648L))
        * 2654435761L, lit(4294967296L))
      graft.operators.GlobalIds.shardByOrder(
        t(s, dir, "documents").select("doc_id").withColumn("h", h),
        bucket = expr("h DIV 4194304"), // 1024 buckets over the 2^32 hash space
        order = Seq(col("h"), col("doc_id")),
        shardSize = 64)
        .select("doc_id", "gid", "shard").orderBy("doc_id")
    },
    // q80's ordinal arithmetic with the q35 Knuth hash as the total
    // order.
    oracle =
      """WITH b AS (
        |  SELECT doc_id,
        |         (((doc_id % 2147483648) * 2654435761) % 4294967296) AS h
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(row_number() OVER (ORDER BY h, doc_id) - 1
        |            AS BIGINT) AS gid,
        |       CAST((row_number() OVER (ORDER BY h, doc_id) - 1) // 64
        |            AS BIGINT) AS shard
        |FROM b ORDER BY doc_id""".stripMargin),

    // Edit-distance VERIFICATION tier on the wide-SimHash candidates:
    // signature Hamming admits topically-similar docs (same vocabulary,
    // different prose); bounded Levenshtein over the ASCII-folded
    // 160-codepoint window keeps only true near-copies. The window fold
    // is what makes the distance portable (DuckDB's levenshtein counts
    // BYTES, Spark's counts codepoints; they agree on pure ASCII).
    Query("q112_dedup_edit_verify", (s, dir) => {
      Dedup.editVerifiedPairs(spreadDocs(t(s, dir, "documents")), "doc_id", "text",
        maxHamming = 2, maxEdits = 40, window = 160).orderBy("i", "j")
    },
    oracle =
      // q69's brute-force wide-signature pair set (banding is
      // total-recall at hamming <= 3, so all-pairs IS the candidate
      // set), then the same ASCII-folded 160-codepoint window and the
      // same threshold — plain levenshtein here (DuckDB has no
      // thresholded form); the WHERE reproduces the -1 gate. The fold's
      // 'g' flag matters: DuckDB regexp_replace is first-match-only
      // without it, Spark's replaces all matches always.
      s"""WITH ${oWideSimhashCtes()},
         |pairs AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j,
         |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM wide a JOIN wide b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         |w AS (
         |  SELECT doc_id,
         |         regexp_replace(substring(text, 1, 160),
         |                        '[^\\x20-\\x7E]', '?', 'g') AS w
         |  FROM documents)
         |SELECT p.i, p.j, p.hamming,
         |       CAST(levenshtein(wi.w, wj.w) AS BIGINT) AS edits
         |FROM pairs p
         |JOIN w wi ON p.i = wi.doc_id
         |JOIN w wj ON p.j = wj.doc_id
         |WHERE levenshtein(wi.w, wj.w) <= 40
         |ORDER BY i, j""".stripMargin),

    // Deterministic weighted INTERLEAVE (data mixing): one global order
    // where every prefix holds en:de:es:fr at 5:2:2:1 (zh excluded —
    // mixture configs whitelist their sources). Virtual-deadline keys,
    // exact integers, no global or per-source data window (histogram
    // ordinals both times) — consecutive slices of `position` ARE the
    // mixed training batches.
    Query("q113_weighted_mix", (s, dir) => {
      graft.operators.Mixing.weightedInterleave(
        t(s, dir, "documents"), "lang",
        orderBucket = expr("doc_id DIV 500"), order = Seq(col("doc_id")),
        weights = Map("en" -> 5L, "de" -> 2L, "es" -> 2L, "fr" -> 1L))
        .select(col("position"), col("doc_id"), col("lang"), col("mix_key"))
        .orderBy("position")
    },
    oracle =
      // Same virtual-deadline arithmetic: L = lcm(5,2,2,1) = 10,
      // stride = L // w, key = rank * stride, order (key, lang). The
      // inner join on the weight VALUES is the whitelist (zh drops).
      // All integers — `//`, never `/` (DuckDB int `/` yields DOUBLE).
      """WITH wts(lang, wt) AS (
        |  VALUES ('en', 5), ('de', 2), ('es', 2), ('fr', 1)),
        |r AS (
        |  SELECT d.doc_id, d.lang,
        |         row_number() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rn,
        |         10 // wt AS stride
        |  FROM documents d JOIN wts ON d.lang = wts.lang)
        |SELECT CAST(row_number() OVER (ORDER BY rn * stride, lang) - 1
        |            AS BIGINT) AS position,
        |       doc_id, lang, CAST(rn * stride AS BIGINT) AS mix_key
        |FROM r ORDER BY position""".stripMargin),

    // HyperLogLog pre-dedup distinct-TEXT cardinality per language
    // (operators/Sketch.scala hllRegisterTable): the third distinct-count
    // path next to exact (q19) and KMV (q46) — 2^b small-int registers
    // per group, mergeable by elementwise max. b=4 keeps this corpus's
    // per-group cardinality above the 2.5·m small-range threshold, so
    // the RAW estimate (the libm-free, oracle-exact one) is the operative
    // regime; registers, zero-count and the exact count ship together,
    // so the gate pins the sketch content bit-for-bit and accuracy is
    // measured, not asserted.
    Query("q111_hll_distinct", (s, dir) => {
      val items = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"), col("text").as("t"))
      val regs = graft.operators.Sketch.hllRegisterTable(items, "lang", "t", b = 4)
      val exact = items.groupBy("lang").agg(countDistinct(col("t")).as("n_exact"))
      regs.join(exact, "lang")
        // regs ships as a canonical CSV string, not ARRAY<LONG>: the
        // driver's pandas checker cannot sort list columns (round-9
        // burn) — the join still pins the sketch content bit-for-bit.
        .select(col("lang"),
          array_join(col("regs").cast("array<string>"), ",").as("regs_str"),
          expr("CAST(size(filter(regs, r -> r = 0)) AS BIGINT)").as("v_zero"),
          graft.operators.Sketch.hllEstimate("regs", b = 4).as("est"),
          col("n_exact"))
        .orderBy("lang")
    },
    oracle =
      // Mirrors hllRegisterTable / hllEstimate step-for-step: the
      // Murmur2-style 31-bit finalizer as portable xor/shift/multiply
      // lines, rank via length(bin()) (no log2), the harmonic sum as
      // exact powers of two (shift, not pow), and the alpha*m^2 numerator
      // as an exact exponent scaling of CAST(0.709 AS DOUBLE).
      s"""WITH tok AS (
         |  SELECT lang, text AS t FROM documents WHERE text IS NOT NULL),
         |h0 AS (SELECT lang, ${oPolyHash("t")} AS h FROM tok),
         |hm AS (
         |  SELECT lang, xor(e, e >> 16) AS hv FROM (
         |    SELECT lang, (xor(b, b >> 13) * 1103515245) % 2147483648 AS e
         |    FROM (
         |      SELECT lang, (xor(h, h >> 15) * 1540483477) % 2147483648 AS b
         |      FROM h0))),
         |br AS (
         |  SELECT lang, hv % 16 AS bucket,
         |         CASE WHEN hv // 16 = 0 THEN 28
         |              ELSE 28 - length(bin(hv // 16)) END AS rnk
         |  FROM hm),
         |mx AS (SELECT lang, bucket, CAST(max(rnk) AS BIGINT) AS reg
         |       FROM br GROUP BY 1, 2),
         |dense AS (
         |  SELECT l.lang, gs.b AS bucket, coalesce(mx.reg, CAST(0 AS BIGINT)) AS reg
         |  FROM (SELECT DISTINCT lang FROM tok) l
         |  CROSS JOIN (SELECT unnest(range(16)) AS b) gs
         |  LEFT JOIN mx ON mx.lang = l.lang AND mx.bucket = gs.b),
         |regs AS (SELECT lang, list(reg ORDER BY bucket) AS regs
         |         FROM dense GROUP BY 1),
         |ex AS (SELECT lang, CAST(count(DISTINCT t) AS BIGINT) AS n_exact
         |       FROM tok GROUP BY 1)
         |SELECT r.lang,
         |       array_to_string(r.regs, ',') AS regs_str,
         |       CAST(len(list_filter(r.regs, x -> x = 0)) AS BIGINT) AS v_zero,
         |       (CAST(0.673 AS DOUBLE) * 256)
         |         / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(r.regs, x -> CAST(1.0 AS DOUBLE)
         |               / CAST((CAST(1 AS BIGINT) << x) AS DOUBLE))),
         |             (a, x) -> a + x) AS est,
         |       ex.n_exact
         |FROM regs r JOIN ex ON r.lang = ex.lang
         |ORDER BY r.lang""".stripMargin),

    // Near-dup GRAPH triage: triangle structure of the wide-tier SimHash
    // pair graph (q69's edges) separates cohesive duplicate communities
    // (clique-like — triangles close) from hub/template artifacts (a
    // boilerplate page pairing with everything — wedges without
    // triangles). The role labels use INTEGER comparisons only
    // (2·tri vs wedges), so the gate never rides a float threshold.
    Query("q107_dup_graph_triage", (s, dir) => {
      val pairs = Dedup.simhashPairsWide(t(s, dir, "documents"),
        "doc_id", "text", maxHamming = 2)
      graft.operators.Triangles.triangleCounts(pairs, "i", "j")
        .withColumn("role",
          when(col("degree") === 1, "leaf")
            .when(col("triangles") === 0, "acyclic")
            .when(col("triangles") * 2 >= col("wedges"), "cohesive")
            .otherwise("mixed"))
        .orderBy("node")
    },
    oracle =
      // q69's brute-force wide-SimHash pair oracle feeding the shared
      // triangle CTE chain (RelationalQueries.oTriangleCtes); the role
      // gate compares integers only.
      s"""WITH ${oWideSimhashCtes()},
         |pg AS MATERIALIZED (
         |  SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM wide a JOIN wide b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         |${RelationalQueries.oTriangleCtes("pg")}
         |SELECT node, degree, triangles, wedges, clustering,
         |       CASE WHEN degree = 1 THEN 'leaf'
         |            WHEN triangles = 0 THEN 'acyclic'
         |            WHEN triangles * 2 >= wedges THEN 'cohesive'
         |            ELSE 'mixed' END AS role
         |FROM tstats ORDER BY node""".stripMargin),

    // TOKEN-weighted length quantiles per language (q74's weighted
    // sibling): p50 is the length where half the group's TOKEN MASS
    // sits — the statistic a packing/budget plan allocates by, where
    // q74's unweighted p50 answers "half the docs".
    Query("q103_weighted_quantiles", (s, dir) => {
      graft.operators.ExactQuantiles.weightedQuantilesByGroup(
        t(s, dir, "documents").select(col("lang"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("w")),
        "lang", "n_chars", "w",
        Seq(("p25", 1, 4), ("p50", 2, 4), ("p75", 3, 4)))
        .orderBy("lang")
    },
    // q74's histogram-cumulate shape with c = sum(token count) instead
    // of count(*).
    oracle =
      s"""WITH h AS (
         |  SELECT lang, n_chars AS v,
         |         CAST(sum(CAST(len($oToks) AS BIGINT)) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, v,
         |         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         |         sum(c) OVER (PARTITION BY lang) AS n
         |  FROM h)
         |SELECT lang, CAST(min(n) AS BIGINT) AS n,
         |       min(CASE WHEN cum * 4 >= n * 1 THEN v END) AS p25,
         |       min(CASE WHEN cum * 4 >= n * 2 THEN v END) AS p50,
         |       min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75
         |FROM cum GROUP BY lang ORDER BY lang""".stripMargin),

    // The gate DISTILLED into the linear model (production's fastText
    // recipe: heuristic rules label, a cheap classifier generalizes):
    // weights below were learned by graft.tools.TrainDistill (300
    // iters, lr 1.0, L2 1e-4) against q81's gate labels on the sf0.01
    // documents — deterministic GD, reproducible by re-running it.
    // The gated output is the gate↔classifier confusion matrix: the
    // agreement a curation team actually reviews (98.4% here). One
    // pass: keepInputCols fuses gate metrics and features into the
    // same scan (no self-join), the q84 discipline.
    Query("q102_gate_distill", (s, dir) => {
      val gated = TextAnalysis.qualityGate(t(s, dir, "documents"),
        "doc_id", "text", keepInputCols = true)
      val feats = gated.select(
        col("doc_id"), col("keep"),
        TextAnalysis.tokenCount(col("text")).cast("double").as("f_tokens"),
        TextAnalysis.punctCount(col("text")).cast("double").as("f_punct"),
        coalesce(TextAnalysis.stopwordRatio(col("text")), lit(0.0)).as("f_stop"),
        TextAnalysis.qualityScore(col("text")).as("f_quality"))
      graft.operators.LinearModel.applyModel(feats,
        Seq("f_tokens", "f_punct", "f_stop", "f_quality"),
        graft.operators.LinearModel.Model(
          Array(0.10338513290120002, 0.0, 2.561121689531541,
            15.712607333411997), -10.389739811106871))
        .groupBy(col("keep").cast("int").as("gate_keep"), col("predicted"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("gate_keep", "predicted")
    },
    // q81's gate CTEs (verdict) + q98's feature/score shape under the
    // distilled literals, joined into confusion counts.
    oracle =
      s"""WITH $oGateCtes,
         |feat AS (
         |  SELECT doc_id,
         |         CAST(len(tk) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(tk,
         |           t -> list_contains(['the','a','an','of','to','and','in','is','on','for'], t))) AS BIGINT) AS n_stop,
         |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS BIGINT) AS punct_cnt,
         |         text
         |  FROM m),
         |fx AS (
         |  SELECT doc_id,
         |         CAST(n_tokens AS DOUBLE) AS f_tokens,
         |         CAST(punct_cnt AS DOUBLE) AS f_punct,
         |         COALESCE(CASE WHEN n_tokens > 0
         |                       THEN CAST(n_stop AS DOUBLE) / n_tokens END,
         |                  CAST(0.0 AS DOUBLE)) AS f_stop,
         |         (least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |          + least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |          + (CAST(1.0 AS DOUBLE) - CAST(punct_cnt AS DOUBLE)
         |                 / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))) / CAST(3.0 AS DOUBLE) AS f_quality
         |  FROM feat),
         |sx AS (
         |  SELECT doc_id,
         |         ((((CAST(0.0 AS DOUBLE)
         |             + (f_tokens * CAST(0.10338513290120002 AS DOUBLE)))
         |             + (f_punct * CAST(0.0 AS DOUBLE)))
         |             + (f_stop * CAST(2.561121689531541 AS DOUBLE)))
         |             + (f_quality * CAST(15.712607333411997 AS DOUBLE)))
         |           + CAST(-10.389739811106871 AS DOUBLE) AS z
         |  FROM fx)
         |SELECT CAST(CASE WHEN v.reasons = 0 THEN 1 ELSE 0 END AS INT) AS gate_keep,
         |       CASE WHEN sx.z > CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END AS predicted,
         |       CAST(count(*) AS BIGINT) AS cnt
         |FROM sx JOIN verdict v USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // PII redaction (q43's enforcement half): rewritten text plus the
    // residual scan counts, zero by construction. The driver fixture
    // carries no PII (the gate there checks the identity path byte-for-
    // byte); the fuzz corpus (tools/make_fuzz_documents.py) carries the
    // adversarial emails/IPs/digit-runs that exercise the rewrites.
    Query("q101_pii_redact", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("redacted", TextAnalysis.piiRedact(col("text")))
        .select(col("doc_id"), col("redacted"),
          TextAnalysis.emailCount(col("redacted")).as("n_emails_after"),
          TextAnalysis.ipv4Count(col("redacted")).as("n_ipv4_after"),
          TextAnalysis.longDigitCount(col("redacted")).as("n_long_digits_after"))
        .orderBy("doc_id")
    },
    // Same patterns and email→ip→digits pass order as piiRedact; the
    // 'g' flag makes DuckDB replace every match like Spark does.
    oracle =
      """WITH r AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(text,
        |               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |           '[0-9]{9,}', '<DIGITS>', 'g') AS redacted
        |  FROM documents)
        |SELECT doc_id, redacted,
        |       CAST(len(regexp_extract_all(redacted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails_after,
        |       CAST(len(regexp_extract_all(redacted, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4_after,
        |       CAST(len(regexp_extract_all(redacted, '[0-9]{9,}')) AS BIGINT) AS n_long_digits_after
        |FROM r ORDER BY doc_id""".stripMargin),

    // SemDeDup (Abbas et al.): semantic dedup in EMBEDDING space —
    // cluster-scoped cosine near-dup pairs (q31's candidate shape: the
    // cell equi-join keeps candidates sub-quadratic, no all-pairs) →
    // connected components → keep each cluster's min-id representative.
    // The embedding-side sibling of the q63/q70 text-tier corpus dedup.
    Query("q100_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
        strideCentroids(s, dir), threshold = 0.3)
      graft.operators.Components.keepCanonical(emb, "vec_id", pairs)
        .select("vec_id").orderBy("vec_id")
    },
    // q31's pair CTEs + q47's recursive-CC labeling, survivors = nodes
    // that are their own component label.
    oracle =
      s"""WITH RECURSIVE $oNorms,
         |$oCells,
         |pairs AS (
         |  SELECT a.id AS i, b.id AS j
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
         |  JOIN norms na ON na.vec_id = a.id
         |  JOIN norms nb ON nb.vec_id = b.id
         |  WHERE ${oCos("na", "nb")} >= 0.3),
         |${oFloodCtes("vec_id", "embeddings")}
         |SELECT vec_id FROM lab WHERE vec_id = component
         |ORDER BY vec_id""".stripMargin),

    // Deterministic 80/10/10 train/val/test assignment keyed on doc_id —
    // stable under re-runs and corpus growth (membership is a function
    // of the key alone, never of partitioning or RNG state).
    Query("q99_hash_split", (s, dir) => {
      Sampling.hashSplit(t(s, dir, "documents").select("doc_id"),
        "doc_id", trainPct = 80, valPct = 10)
        .select("doc_id", "split").orderBy("doc_id")
    },
    // The Knuth-bucket arithmetic verbatim (q35's hash), banded by
    // cumulative percentage.
    oracle =
      """WITH b AS (
        |  SELECT doc_id,
        |         (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bkt
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN bkt < 80 THEN 'train'
        |            WHEN bkt < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),

    // Model-based quality filtering: a linear classifier over the q26
    // feature set, served via LinearModel.applyModel — the gated output
    // is the LINEAR score z (sigmoid is monotone; exp() is libm-
    // dependent and must not cross a hash gate). Weights are literals
    // here so the serving path is oracle-exact; training is unit-gated
    // (LinearModelSpec) because GD's exp/log can't hash-match.
    Query("q98_quality_classifier", (s, dir) => {
      val feats = t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("double").as("f_tokens"),
        TextAnalysis.punctCount(col("text")).cast("double").as("f_punct"),
        coalesce(TextAnalysis.stopwordRatio(col("text")), lit(0.0)).as("f_stop"),
        TextAnalysis.qualityScore(col("text")).as("f_quality"))
      graft.operators.LinearModel.applyModel(feats,
        Seq("f_tokens", "f_punct", "f_stop", "f_quality"),
        graft.operators.LinearModel.Model(
          Array(0.02, -0.15, -5.0, 3.0), -3.2))
        .select("doc_id", "z", "predicted").orderBy("doc_id")
    },
    // Mirrors LinearModel.score's contract exactly: left-to-right fold
    // seeded at 0.0, bias last, every decimal literal CAST AS DOUBLE
    // (DuckDB parses bare decimals as DECIMAL — SCALE.md IEEE parity).
    // Features are the q26 expressions verbatim.
    oracle =
      s"""WITH m AS (
         |  SELECT doc_id, text,
         |         CAST(len($oToks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter($oToks,
         |           t -> list_contains(['the','a','an','of','to','and','in','is','on','for'], t))) AS BIGINT) AS n_stop,
         |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS BIGINT) AS punct_cnt
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |         CAST(n_tokens AS DOUBLE) AS f_tokens,
         |         CAST(punct_cnt AS DOUBLE) AS f_punct,
         |         COALESCE(CASE WHEN n_tokens > 0
         |                       THEN CAST(n_stop AS DOUBLE) / n_tokens END,
         |                  CAST(0.0 AS DOUBLE)) AS f_stop,
         |         (least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |          + least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |          + (CAST(1.0 AS DOUBLE) - CAST(punct_cnt AS DOUBLE)
         |                 / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))) / CAST(3.0 AS DOUBLE) AS f_quality
         |  FROM m),
         |s AS (
         |  SELECT doc_id,
         |         ((((CAST(0.0 AS DOUBLE)
         |             + (f_tokens * CAST(0.02 AS DOUBLE)))
         |             + (f_punct * CAST(-0.15 AS DOUBLE)))
         |             + (f_stop * CAST(-5.0 AS DOUBLE)))
         |             + (f_quality * CAST(3.0 AS DOUBLE)))
         |           + CAST(-3.2 AS DOUBLE) AS z
         |  FROM f)
         |SELECT doc_id, z,
         |       CASE WHEN z > CAST(0.0 AS DOUBLE) THEN 1 ELSE 0 END AS predicted
         |FROM s ORDER BY doc_id""".stripMargin),

    // Dedup-tier quality MEASURED, not asserted (q85's discipline for
    // the dedup family): wide-simhash recall against the exact J≥0.6
    // bigram-Jaccard ground truth, plus the candidate-volume price.
    Query("q97_dedup_recall", (s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = graft.operators.CacheScope.track(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.6)
          .select("i", "j"))
      val approx = graft.operators.CacheScope.track(
        Dedup.simhashPairsWide(docs, "doc_id", "text", maxHamming = 3)
          .select("i", "j"))
      val hit = exact.join(approx, Seq("i", "j"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_approx"), col("n_hit"),
          when(col("n_exact") > 0,
            col("n_hit").cast("double") / col("n_exact")).as("recall"))
    },
    // Exact side = q23's CTEs; approx side = q69's wide-simhash pairs at
    // hamming ≤ 3 (all-pairs form — the banded operator has total recall
    // there by pigeonhole, the equivalence q69 itself gates).
    oracle =
      s"""WITH ${oJaccardCtes(2)},
         |exact AS (SELECT i, j FROM jac WHERE jaccard >= 0.6),
         |${oWideSimhashCtes()},
         |${oWidePairsCte("approx", 3)},
         |hit AS (SELECT i, j FROM exact INTERSECT SELECT i, j FROM approx)
         |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
         |       CAST((SELECT count(*) FROM approx) AS BIGINT) AS n_approx,
         |       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |       CASE WHEN (SELECT count(*) FROM exact) > 0
         |            THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |                 / (SELECT count(*) FROM exact) END AS recall""".stripMargin),

    // Robust (median/MAD) per-language length z-scores — the
    // outlier-immune normalization (q61's mean/stddev sibling drags
    // under the very outliers a quality pass wants to flag).
    Query("q96_robust_zscore", (s, dir) => {
      graft.operators.Normalize.robustZscoreByGroup(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars")
        .select("doc_id", "lang", "n_chars", "median", "mad", "rz")
        .orderBy("doc_id")
    },
    // Both medians are q55's histogram-cumulate CTE shape; rz is one
    // rational division of exact longs.
    oracle =
      """WITH h AS (
        |  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |med AS (
        |  SELECT lang, min(v) AS median FROM cum WHERE cum * 2 >= n GROUP BY lang),
        |h2 AS (
        |  SELECT d.lang, abs(d.n_chars - m.median) AS v, count(*) AS c
        |  FROM documents d JOIN med m USING (lang) GROUP BY 1, 2),
        |cum2 AS (
        |  SELECT lang, v,
        |         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h2),
        |mad AS (
        |  SELECT lang, min(v) AS mad FROM cum2 WHERE cum * 2 >= n GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, med.median, mad.mad,
        |       CASE WHEN mad.mad > 0
        |            THEN CAST(d.n_chars - med.median AS DOUBLE) / mad.mad END AS rz
        |FROM documents d JOIN med USING (lang) JOIN mad USING (lang)
        |ORDER BY d.doc_id""".stripMargin),

    // The SAMPLING-side composed pipeline (q84's dedup-side sibling):
    // temperature-quota sample → per-doc BPE token counts under the
    // corpus-trained tokenizer → context-window packing of the sampled
    // docs, as one lazy plan — what a mixture-construction run executes.
    Query("q95_sample_pack_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = Sampling.temperatureQuota(docs, "source", "doc_id",
        totalTarget = 600)
      val counts = graft.operators.Bpe.bpeTokenCount(docs, "doc_id", "text",
        numMerges = 8)
      val sized = sampled.select("doc_id")
        .join(counts.select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
      Packing.tokenShards(sized, "doc_id", "n_bpe_tokens",
        contextLen = 2048, streams = 8).orderBy("doc_id")
    },
    oracle = oSamplePack(8)),

    // Two-stage serving: ADC top-100 shortlist from the codes scan, then
    // exact-L2 rerank of just those 100 vectors → top-10 (the FAISS
    // refine shape; adist kept so the reranking delta is visible).
    Query("q91_pq_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Pq.firstKCodebooks(
        emb, "vec_id", "embedding", m = 8, k = 16, dim = 64)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0).toArray
      graft.operators.Pq.adcRerankTopK(emb, "vec_id", "embedding", q, cb,
        shortlist = 100, topK = 10)
    },
    // q77's ADC pipeline verbatim through the shortlist, then the exact
    // (q_i − v_i)² fold (0.0-seeded ≡ list_prepend) over the 100
    // shortlisted vectors only.
    oracle =
      s"""WITH ${oPqDistCtes()},
         |$oPqCodesCte,
         |dt AS (
         |  SELECT dd.block, dd.code, dd.dist FROM d dd WHERE dd.vec_id = 0),
         |s AS (
         |  SELECT c.vec_id,
         |         list_reduce(list(dt.dist ORDER BY c.block), (a, x) -> a + x)
         |           AS adist
         |  FROM codes c JOIN dt ON dt.block = c.block AND dt.code = c.code
         |  GROUP BY c.vec_id),
         |short AS (SELECT vec_id, adist FROM s ORDER BY adist, vec_id LIMIT 100),
         |rr AS (
         |  SELECT sh.vec_id, sh.adist,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(generate_series(1, 64), i ->
         |             (CAST(q.embedding[i] AS DOUBLE) - CAST(v.embedding[i] AS DOUBLE))
         |             * (CAST(q.embedding[i] AS DOUBLE) - CAST(v.embedding[i] AS DOUBLE)))),
         |           (a, x) -> a + x) AS dist
         |  FROM short sh
         |  JOIN embeddings v ON v.vec_id = sh.vec_id
         |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
         |SELECT vec_id, adist, dist FROM rr ORDER BY dist, vec_id LIMIT 10""".stripMargin),

    // IVF-PQ composed: cosine cell pruning (5 of 20 cells probed) + ADC
    // ranking of only the candidates in probed cells — the production
    // index shape; candidate scan cost ≈ nProbe/|cells| of the corpus.
    Query("q78_pq_ivf_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Pq.firstKCodebooks(
        emb, "vec_id", "embedding", m = 8, k = 16, dim = 64)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0).toArray
      graft.operators.Pq.ivfAdcTopK(emb, "vec_id", "embedding", q,
        strideCentroids(s, dir), cb, nProbe = 5, topK = 50,
        excludeId = Some(0L))
    },
    // IVF-PQ: probe = top-5 cells by cosine to the vec_id=0 query (the
    // driver-side selection replicates this arithmetic bit-for-bit),
    // candidates = corpus rows in probed cells, ranked by the same ADC
    // fold as q77.
    oracle =
      s"""WITH $oNorms,
         |$oCells,
         |probe AS (
         |  SELECT cell FROM (
         |    SELECT c.cid AS cell,
         |           row_number() OVER (ORDER BY ${oCos("q", "c")} DESC, c.cid) AS pr
         |    FROM norms q CROSS JOIN centroids c
         |    WHERE q.vec_id = 0)
         |  WHERE pr <= 5),
         |cand AS (
         |  SELECT id, cell FROM cells
         |  WHERE cell IN (SELECT cell FROM probe) AND id <> 0),
         |${oPqDistCtes("v.vec_id = 0 OR v.vec_id IN (SELECT id FROM cand)")},
         |$oPqCodesCte,
         |dt AS (
         |  SELECT dd.block, dd.code, dd.dist FROM d dd WHERE dd.vec_id = 0),
         |s AS (
         |  SELECT c.vec_id,
         |         list_reduce(list(dt.dist ORDER BY c.block), (a, x) -> a + x)
         |           AS adist
         |  FROM codes c JOIN dt ON dt.block = c.block AND dt.code = c.code
         |  WHERE c.vec_id IN (SELECT id FROM cand)
         |  GROUP BY c.vec_id)
         |SELECT s.vec_id, cand.cell, s.adist
         |FROM s JOIN cand ON cand.id = s.vec_id
         |ORDER BY s.adist, s.vec_id LIMIT 50""".stripMargin),

    // Repeated-span EXCISION (the second half of exact-substring dedup):
    // remove every token position covered by a corpus-repeated trigram,
    // reconstruct cleaned text from the kept tokens.
    Query("q79_span_removal", (s, dir) => {
      graft.operators.Spans.removeRepeatedSpans(
        t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
    // Span excision: q65's repeated-gram/covered-position derivation
    // (string grams stand in for the engine's 64-bit gram hashes —
    // identical repetition structure absent collisions), then excision as
    // a filter-by-index over the token list (DuckDB lambda indexes are
    // 1-based; covered positions 0-based).
    oracle =
      s"""WITH toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |grams AS (
         |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> {'pos': i - 1,
         |            'gram': list_aggregate(tk[i:i+2], 'string_agg', ' ')})) AS u
         |    FROM toks)),
         |rep AS (
         |  SELECT gram FROM grams GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT doc_id, list(DISTINCT cp) AS cps, count(DISTINCT cp) AS ncov
         |  FROM (
         |    SELECT g.doc_id, unnest(range(g.pos, g.pos + 3)) AS cp
         |    FROM grams g JOIN rep USING (gram))
         |  GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(c.ncov, 0) AS BIGINT) AS n_removed,
         |       coalesce(list_aggregate(
         |         list_filter(t.tk, (x, i) -> NOT list_contains(
         |           coalesce(c.cps, CAST([] AS BIGINT[])), i - 1)),
         |         'string_agg', ' '), '') AS cleaned
         |FROM toks t LEFT JOIN cov c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // Contiguous global ordinals + equal shards in (n_chars, doc_id)
    // order — histogram-offset plan, no global-window funnel; bucket =
    // 250-char ranges of the leading order column (order-aligned by
    // construction).
    Query("q80_global_ids", (s, dir) => {
      graft.operators.GlobalIds.shardByOrder(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        bucket = expr("n_chars DIV 250"),
        order = Seq(col("n_chars"), col("doc_id")),
        shardSize = 64)
        .select("doc_id", "n_chars", "gid", "shard")
        .orderBy("doc_id")
    },
    // The contiguous-ordinal contract IS the plain global row_number —
    // the operator exists to compute it without the single-task window.
    oracle =
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
        |            AS BIGINT) AS gid,
        |       CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 64
        |            AS BIGINT) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Composite C4/Gopher-style quality gate: one scan-speed pass emits a
    // per-reason bitmask (0 = keep) so filtering and per-reason drop-rate
    // reporting share the scan.
    Query("q81_quality_gate", (s, dir) => {
      TextAnalysis.qualityGate(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // Quality gate: the q26 quality formula + q42 repetition counts +
    // q43 PII counts, folded into the same rational-threshold bitmask.
    oracle =
      s"""WITH $oGateCtes
         |SELECT doc_id, reasons, reasons = 0 AS keep
         |FROM verdict ORDER BY doc_id""".stripMargin),

    // Distinct-text estimates through the rollup cascade: KMV bottom-k
    // is exactly mergeable where exact distinct is not decomposable, so
    // the grouping-sets profile keeps its one-raw-pass shape even for
    // distinct counts.
    Query("q83_rollup_distinct", (s, dir) => {
      graft.operators.GroupingSets.rollupDistinctKmv(
        t(s, dir, "documents")
          .select(col("lang"), col("source"),
            TextAnalysis.fingerprint(col("text")).as("__h")),
        Seq("lang", "source"), "__h", k = 32, hashMod = TextAnalysis.HashMod)
        .orderBy(col("gid"), col("lang").asc_nulls_first,
          col("source").asc_nulls_first)
    },
    // KMV per rollup level, derived from raw data per level — legal
    // because cascaded bottom-k merges are EXACT, not approximate.
    oracle =
      s"""WITH h AS (
         |  SELECT lang, source, ${oPolyHash("text")} AS hv FROM documents),
         |agg AS (
         |  SELECT lang, source,
         |         CAST(GROUPING(lang, source) AS BIGINT) AS gid,
         |         list_sort(list(DISTINCT hv))[1:32] AS sk
         |  FROM h GROUP BY ROLLUP (lang, source))
         |SELECT lang, source, gid,
         |       CAST(len(sk) AS BIGINT) AS sk_size,
         |       sk[32] AS h_k,
         |       CASE WHEN len(sk) < 32 THEN CAST(len(sk) AS DOUBLE)
         |            ELSE 31.0 * 1000000007 / sk[32] END AS est
         |FROM agg ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin),

    // PQ quality measured, not asserted: ADC recall@5 against the exact
    // cosine baseline (q60's harness) — multi-query ADC scans the codes
    // table ONCE for the whole 20-query batch.
    // CUBE profile without Expand: all four (lang, source) grouping sets
    // re-aggregated from the one cached finest-grain table — completes
    // the grouping-sets family's oracle gates (rollup = q73, KMV cascade
    // = q83).
    Query("q86_cube_stats", (s, dir) => {
      graft.operators.GroupingSets.cube(
        t(s, dir, "documents"), Seq("lang", "source"), "n_chars")
        .orderBy(col("gid"), col("lang").asc_nulls_first,
          col("source").asc_nulls_first)
    },
    // Same gid convention as q73 (GROUPING bit: leftmost dim = MSB, set
    // when the dim is aggregated away) over all 2^2 subsets.
    oracle =
      """SELECT lang, source,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |       min(n_chars) AS min_v, max(n_chars) AS max_v,
        |       CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin),

    // Corpus n-gram familiarity (perplexity proxy, rational form): mean
    // corpus bigram frequency + OOV-complement per doc — integer
    // sufficient statistics, two final divisions, cross-engine exact.
    Query("q87_ngram_familiarity", (s, dir) => {
      graft.operators.NgramLm.familiarity(
        t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },
    // Bigram extraction mirrors q42's oracle pattern; the stats join
    // preserves occurrence multiplicity exactly as the engine's
    // gram-keyed join does. Ratios are single divisions of exact BIGINTs.
    oracle =
      s"""WITH toks AS (
         |  SELECT doc_id, $oToks AS tk FROM documents),
         |dg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS gram
         |  FROM toks),
         |cc AS (SELECT gram, count(*) AS cnt FROM dg GROUP BY 1),
         |st AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(sum(cnt) AS BIGINT) AS sum_freq,
         |         CAST(count(CASE WHEN cnt >= 2 THEN 1 END) AS BIGINT) AS n_known
         |  FROM dg JOIN cc USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |       coalesce(st.n_grams, CAST(0 AS BIGINT)) AS n_grams,
         |       coalesce(st.sum_freq, CAST(0 AS BIGINT)) AS sum_freq,
         |       coalesce(st.n_known, CAST(0 AS BIGINT)) AS n_known,
         |       CASE WHEN st.n_grams > 0
         |            THEN CAST(st.sum_freq AS DOUBLE) / st.n_grams END AS familiarity,
         |       CASE WHEN st.n_grams > 0
         |            THEN CAST(st.n_known AS DOUBLE) / st.n_grams END AS known_ratio
         |FROM documents d LEFT JOIN st USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // Temperature-weighted (α=1/2) EXACT quota sampling across sources —
    // corpus-derived mixture counts, not caller-supplied rates (q50's
    // mixtureSample is the rate-based sibling).
    Query("q88_temperature_sample", (s, dir) => {
      Sampling.temperatureQuota(
        t(s, dir, "documents"), "source", "doc_id", totalTarget = 600)
        .select("doc_id", "source").orderBy("source", "doc_id")
    },
    // Quota derivation mirrors the operator bit-for-bit: sqrt weights,
    // denominator folded from a 0.0 seed in stratum-sorted order
    // (NULLS FIRST — sources here are non-null, but the order contract
    // is part of the operator's doc), floor of the IEEE product/quotient;
    // row selection is q35's (Knuth hash bucket, key) total order.
    oracle =
      """WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM cnt),
        |d AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list(w ORDER BY source NULLS FIRST)), (a, b) -> a + b) AS denom
        |      FROM w),
        |q AS (SELECT source, n,
        |        CAST(floor(CAST(600 AS DOUBLE) * w / denom) AS BIGINT) AS quota
        |      FROM w CROSS JOIN d),
        |ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (((doc_id % 2147483648) * 2654435761) % 4294967296) % 1000000, doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source FROM ranked r JOIN q USING (source)
        |WHERE r.rn <= least(q.quota, q.n)
        |ORDER BY r.source, r.doc_id""".stripMargin),

    // Rendezvous (HRW) sharding at two shard counts: the resize
    // demonstration — every doc whose shard8 ≠ shard9 moved to the NEW
    // shard 8, ~1/9 of the corpus, nothing else relocated.
    Query("q134_rendezvous_shards", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        graft.operators.Layout.rendezvousShard(
          col("doc_id").cast("string"), 8).as("shard8"),
        graft.operators.Layout.rendezvousShard(
          col("doc_id").cast("string"), 9).as("shard9"))
        .orderBy("doc_id")
    },
    // HRW: per-shard affine scores over the shared key hash, argmax by
    // (score DESC, shard ASC); coefficient literals come from the SAME
    // Scala stream that parameterized the plan (Layout.hrwCoeffs).
    oracle = {
      def shardCtes(n: Int, t: String): String = {
        val vals = graft.operators.Layout.hrwCoeffs(n).zipWithIndex
          .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")
        s"""c$t(s, a, b) AS (VALUES $vals),
           |r$t AS (
           |  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY (hk * a + b) % 1000000007 DESC, s) AS rk
           |  FROM hsh CROSS JOIN c$t),
           |s$t AS (SELECT doc_id, CAST(s AS INT) AS shard$t FROM r$t
           |        WHERE rk = 1)""".stripMargin
      }
      s"""WITH hsh AS (
         |  SELECT doc_id, ${oPolyHash("CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM documents),
         |${shardCtes(8, "8")},
         |${shardCtes(9, "9")}
         |SELECT h.doc_id, s8.shard8, s9.shard9
         |FROM hsh h JOIN s8 USING (doc_id) JOIN s9 USING (doc_id)
         |ORDER BY h.doc_id""".stripMargin
    }),

    // Theta-sketch set algebra: per-source token-vocabulary KMV
    // sketches (k=32, full at this corpus), then pairwise union /
    // intersection / Jaccard ESTIMATES from the sketches alone — the
    // cross-slice overlap sizing that never joins the corpora.
    Query("q133_theta_setops", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.tokens(col("text"))).as("tok"))
        .select(col("source"), TextAnalysis.polyHash(col("tok")).as("__h"))
      val sk = toks.groupBy("source")
        .agg(graft.operators.Sketch.bottomKHashes(col("__h"), 32).as("__sk"))
      graft.operators.Sketch.thetaSetOps(sk, "source", "__sk",
        k = 32, hashMod = TextAnalysis.HashMod)
        .orderBy("i", "j")
    },
    // Theta set ops: per-source bottom-32 distinct token hashes, pair
    // θ = min of the two retention thresholds (k-th min when full, M
    // otherwise), counts over entries < θ, estimates n·M/θ.
    oracle =
      s"""WITH h AS (
         |  SELECT source, ${oPolyHash("t")} AS hv FROM (
         |    SELECT source, unnest($oToks) AS t FROM documents)),
         |d AS (SELECT DISTINCT source, hv FROM h),
         |rk AS (SELECT source, hv, row_number() OVER (PARTITION BY source
         |         ORDER BY hv) AS rn FROM d),
         |sk AS MATERIALIZED (SELECT source, hv FROM rk WHERE rn <= 32),
         |th AS (SELECT source, CASE WHEN count(*) >= 32 THEN max(hv)
         |                           ELSE 1000000007 END AS theta
         |       FROM sk GROUP BY 1),
         |p AS (SELECT a.source AS i, b.source AS j,
         |             least(a.theta, b.theta) AS theta
         |      FROM th a JOIN th b ON a.source < b.source),
         |un AS (SELECT i, j, count(*) AS nu FROM (
         |         SELECT p.i, p.j, s.hv FROM p
         |         JOIN sk s ON s.source = p.i AND s.hv < p.theta
         |         UNION
         |         SELECT p.i, p.j, s.hv FROM p
         |         JOIN sk s ON s.source = p.j AND s.hv < p.theta)
         |       GROUP BY 1, 2),
         |inr AS (SELECT p.i, p.j, count(*) AS ni FROM p
         |        JOIN sk a ON a.source = p.i AND a.hv < p.theta
         |        JOIN sk b ON b.source = p.j AND b.hv = a.hv
         |        GROUP BY 1, 2)
         |SELECT p.i, p.j, p.theta,
         |       CAST(coalesce(un.nu, 0) AS BIGINT) AS n_union,
         |       CAST(coalesce(inr.ni, 0) AS BIGINT) AS n_inter,
         |       coalesce(un.nu, 0) * CAST(1000000007 AS DOUBLE) / p.theta AS union_est,
         |       coalesce(inr.ni, 0) * CAST(1000000007 AS DOUBLE) / p.theta AS inter_est,
         |       CASE WHEN coalesce(un.nu, 0) > 0
         |            THEN CAST(coalesce(inr.ni, 0) AS DOUBLE) / un.nu
         |            ELSE 0.0 END AS jaccard_est
         |FROM p LEFT JOIN un ON un.i = p.i AND un.j = p.j
         |       LEFT JOIN inr ON inr.i = p.i AND inr.j = p.j
         |ORDER BY p.i, p.j""".stripMargin),

    // Distribution-matching resample onto a prescribed language mix
    // (en 40% / four others 15% each): the largest subsample whose
    // proportions follow the target — the tightest stratum binds.
    Query("q131_match_distribution", (s, dir) => {
      Sampling.matchDistribution(
        t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
            "fr" -> 0.15, "zh" -> 0.15))
        .select("doc_id", "lang").orderBy("lang", "doc_id")
    },
    // Distribution matching: C = min(n_s/t_s) over the weighted strata
    // (LEFT JOIN keeps corpus-absent targets at n=0 so an unreachable
    // mix empties the result), quotas ⌊C·t_s⌋, q88's hash-order pick.
    oracle =
      """WITH tgt(s, t) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |                          ('fr', 0.15), ('zh', 0.15)),
        |cnt AS (SELECT lang AS s, CAST(count(*) AS BIGINT) AS n
        |        FROM documents GROUP BY 1),
        |c AS (SELECT min(CAST(coalesce(cnt.n, 0) AS DOUBLE) / t) AS c
        |      FROM tgt LEFT JOIN cnt USING (s) WHERE t > 0),
        |q AS (SELECT s, CAST(floor(c.c * t) AS BIGINT) AS quota
        |      FROM tgt CROSS JOIN c WHERE t > 0),
        |ranked AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY (((doc_id % 2147483648) * 2654435761) % 4294967296) % 1000000, doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang
        |FROM ranked r JOIN q ON q.s = r.lang JOIN cnt ON cnt.s = r.lang
        |WHERE r.rn <= least(q.quota, cnt.n)
        |ORDER BY r.lang, r.doc_id""".stripMargin),

    // Approximate per-language length quantiles from the bounded
    // deterministic bottom-k-by-hash sample — the unbounded-cardinality
    // quantile path (q74's exact histogram is the bounded-cardinality
    // one); sample and estimates reproduced exactly by the oracle.
    Query("q89_sampled_quantiles", (s, dir) => {
      graft.operators.Sketch.sampledQuantiles(
        t(s, dir, "documents"), "lang", "n_chars", "doc_id", k = 64,
        Seq(("p50", 1, 2), ("p90", 9, 10)))
        .orderBy("lang")
    },
    // The sample IS the k smallest DISTINCT (hash, value) pairs per
    // group — the sketch aggregate's set semantics — and quantiles are
    // q74's integer-exact lower-rank convention on the sampled values.
    oracle =
      s"""WITH h AS (
         |  SELECT lang, n_chars,
         |         (((${oPolyHash("CAST(doc_id AS VARCHAR)")}
         |           % 2147483648) * 2654435761) % 4294967296) AS hv
         |  FROM documents),
         |ds AS (SELECT DISTINCT lang, hv, n_chars FROM h),
         |rk AS (
         |  SELECT lang, hv, n_chars,
         |         row_number() OVER (PARTITION BY lang ORDER BY hv, n_chars) AS rn
         |  FROM ds),
         |sk AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS sample_size,
         |         list(n_chars ORDER BY n_chars) AS vals
         |  FROM rk WHERE rn <= 64 GROUP BY 1),
         |nn AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1)
         |SELECT nn.lang, nn.n, sk.sample_size,
         |       CASE WHEN sample_size > 0
         |            THEN vals[CAST((sample_size * 1 - 1) // 2 + 1 AS INT)] END AS p50,
         |       CASE WHEN sample_size > 0
         |            THEN vals[CAST((sample_size * 9 - 1) // 10 + 1 AS INT)] END AS p90
         |FROM nn JOIN sk USING (lang)
         |ORDER BY nn.lang""".stripMargin),

    // Count-min frequency estimation: the d×w bounded-state companion to
    // q33's exact |vocab|-sized frequency table — sketch built in one
    // aggregate pass, exact top-20 probed against it (est ≥ exact, both
    // integer-exact and oracle-reproduced).
    Query("q90_cms_token_freq", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sketch = graft.operators.Sketch.countMinTable(toks, "token", d = 3, w = 256)
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("token")).limit(20)
      graft.operators.Sketch.cmsEstimate(sketch, top, "token", d = 3, w = 256)
        .orderBy(desc("exact_cnt"), col("token"))
    },
    // CMS table from the exact counts (sum of cnt into buckets ≡ the
    // engine's count over occurrences); same Carter–Wegman row constants;
    // min over rows with missing-bucket→0 on both sides.
    oracle =
      s"""WITH tok AS (SELECT unnest($oToks) AS token FROM documents),
         |cnts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |h AS (SELECT token, cnt, ${oPolyHash("token")} AS h0 FROM cnts),
         |rows(j, a, b) AS (VALUES (0, 48271, 11), (1, 69621, 13), (2, 40692, 17)),
         |cms AS (
         |  SELECT r.j AS rj, ((r.a * h.h0 + r.b) % 1000000007) % 256 AS bucket,
         |         CAST(sum(h.cnt) AS BIGINT) AS bcnt
         |  FROM h CROSS JOIN rows r GROUP BY 1, 2),
         |top AS (SELECT token, cnt, h0 FROM h ORDER BY cnt DESC, token LIMIT 20)
         |SELECT t.token, t.cnt AS exact_cnt,
         |       CAST(min(coalesce(c.bcnt, 0)) AS BIGINT) AS est
         |FROM top t CROSS JOIN rows r
         |LEFT JOIN cms c ON c.rj = r.j
         |  AND c.bucket = ((r.a * t.h0 + r.b) % 1000000007) % 256
         |GROUP BY 1, 2
         |ORDER BY exact_cnt DESC, token""".stripMargin),

    Query("q85_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Pq.firstKCodebooks(
        emb, "vec_id", "embedding", m = 8, k = 16, dim = 64)
      val exact = Similarity.bruteForceTopK(queriesSubset(s, dir), emb,
        "vec_id", "embedding", k = 5)
      val qs = queriesSubset(s, dir).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      val approx = graft.operators.Pq.adcTopKMulti(
        emb, "vec_id", "embedding", qs, cb, k = 5)
      Similarity.recallAtK(exact, approx, "qid", "nid", k = 5).orderBy("qid")
    },
    // PQ recall vs the exact baseline: brute CTE from q60, ADC ranks
    // from the q76/q77 derivation with the distance table extended per
    // query (d rows where vec_id < 20 ARE the per-query tables).
    oracle =
      s"""WITH $oNorms,
         |bscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCos("q", "c")} AS cos
         |  FROM norms q JOIN norms c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |brute AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |    FROM bscored) WHERE rank <= 5),
         |${oPqDistCtes()},
         |$oPqCodesCte,
         |dt AS (
         |  SELECT vec_id AS qid, block, code, dist FROM d WHERE vec_id < 20),
         |pqs AS (
         |  SELECT dt.qid, c.vec_id AS nid,
         |         list_reduce(list(dt.dist ORDER BY c.block), (a, x) -> a + x)
         |           AS adist
         |  FROM codes c JOIN dt ON dt.block = c.block AND dt.code = c.code
         |  WHERE c.vec_id <> dt.qid
         |  GROUP BY dt.qid, c.vec_id),
         |pq AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rank
         |    FROM pqs) WHERE rank <= 5)
         |SELECT b.qid, CAST(count(p.nid) AS BIGINT) AS hits,
         |       CAST(count(p.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM brute b LEFT JOIN pq p ON p.qid = b.qid AND p.nid = b.nid
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin),

    // The whole corpus pipeline as ONE lazy plan: quality gate → wide
    // near-dup dedup over kept docs → canonical survivors → contiguous
    // ordinals + shards. Each stage is an already-gated operator; the
    // composition is what a production run executes.
    Query("q84_corpus_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      // gate and filter in ONE pass (keepInputCols — a verdict join-back
      // would re-run the metric set through a self-join), and cache:
      // `kept` feeds the signature stage, the survivor anti-join, and
      // CC's iterative actions.
      val kept = graft.operators.CacheScope.track(
        TextAnalysis.qualityGate(docs, "doc_id", "text", keepInputCols = true)
          .filter(col("keep")).drop("reasons", "keep"))
      val pairs = Dedup.simhashMatchesWide(kept, "doc_id", "text", maxHamming = 2)
      val surv = graft.operators.Components.keepCanonical(kept, "doc_id", pairs)
      graft.operators.GlobalIds.shardByOrder(
        surv.select("doc_id", "lang", "source", "n_chars"),
        bucket = expr("n_chars DIV 250"),
        order = Seq(col("n_chars"), col("doc_id")),
        shardSize = 64)
        .select("doc_id", "lang", "source", "n_chars", "gid", "shard")
        .orderBy("doc_id")
    },
    // End-to-end corpus pipeline: the q81 gate in front of the q70 wide
    // dedup (signatures computed over KEPT docs only), survivors
    // ordinal-ed and sharded per q80. One recursive-CTE chain — every
    // stage is the already-verified derivation scoped to the previous
    // stage's output.
    oracle =
      s"""WITH RECURSIVE $oGateCtes,
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.source, d.n_chars, d.text
         |  FROM documents d JOIN verdict USING (doc_id)
         |  WHERE verdict.reasons = 0),
         |${oWideSimhashCtes("kept")},
         |${oWidePairsCte("pairs", 2)},
         |${oFloodCtes("doc_id", "kept")},
         |surv AS (
         |  SELECT k.doc_id, k.lang, k.source, k.n_chars
         |  FROM kept k JOIN lab ON lab.doc_id = k.doc_id
         |  WHERE lab.doc_id = lab.component)
         |SELECT doc_id, lang, source, n_chars,
         |       CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
         |            AS BIGINT) AS gid,
         |       CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 64
         |            AS BIGINT) AS shard
         |FROM surv ORDER BY doc_id""".stripMargin),

    // Hard-negative mining: top-5 most-similar DIFFERENT-label neighbors
    // per query vector — the contrastive-training pair generator.
    Query("q82_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", "label", k = 5)
        .orderBy("qid", "rank")
    },
    // Hard negatives: q29's scoring with the label-inequality filter
    // before ranking.
    oracle =
      s"""WITH $oNorms,
         |lab AS (
         |  SELECT n.vec_id, n.v, n.nrm, e.label
         |  FROM norms n JOIN embeddings e USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS q_label,
         |         c.vec_id AS nid, c.label AS n_label, ${oCos("q", "c")} AS cos
         |  FROM lab q JOIN lab c
         |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id AND q.label <> c.label),
         |ranked AS (
         |  SELECT qid, q_label, nid, n_label, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored)
         |SELECT qid, q_label, CAST(rank AS BIGINT) AS rank, nid, n_label, cos
         |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // Semantic decontamination: the embedding-space sibling of q48 for
    // the leakage n-gram scrubbing misses (paraphrase/translation).
    // Label-9 vectors stand in as the benchmark (broadcast); every other
    // vector gets its max benchmark cosine and a >= 0.35 flag, argmax as
    // a combinable struct-max (no window).
    Query("q123_semantic_decontaminate", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Decontaminate.semanticOverlap(
        emb.filter(col("label") =!= 9), "vec_id", "embedding",
        emb.filter(col("label") === 9), "vec_id", "embedding",
        threshold = 0.35)
        .orderBy("vec_id")
    },
    // q29's cosine fold; the struct-max argmax mirrors as
    // row_number() ORDER BY cos DESC, bid ASC.
    oracle =
      s"""WITH $oNorms,
         |bench AS (
         |  SELECT n.vec_id AS bid, n.v, n.nrm FROM norms n
         |  JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label = 9),
         |corp AS (
         |  SELECT n.vec_id AS cid, n.v, n.nrm FROM norms n
         |  JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label != 9),
         |scored AS (
         |  SELECT c.cid, b.bid, ${oCos("c", "b")} AS cos
         |  FROM corp c CROSS JOIN bench b),
         |best AS (
         |  SELECT cid, bid, cos FROM (
         |    SELECT cid, bid, cos, row_number() OVER (PARTITION BY cid
         |      ORDER BY cos DESC, bid) AS rn FROM scored)
         |  WHERE rn = 1)
         |SELECT c.cid AS vec_id, best.bid AS bench_id,
         |       coalesce(best.cos, 0.0) AS cos,
         |       CAST(coalesce(best.cos, 0.0) >= 0.35 AS BIGINT) AS contaminated
         |FROM corp c LEFT JOIN best ON c.cid = best.cid
         |ORDER BY vec_id""".stripMargin),

    // Margin-based bitext mining (CCMatrix/LASER): best-margin label-1
    // partner per label-0 vector, margin = cos over the mean of both
    // sides' top-4 neighborhoods — the hubness-corrected parallel-pair
    // miner. One cached scored pass feeds pairs and both neighborhood
    // aggregates; top-k means fold rank-sorted arrays so the double sums
    // associate identically cross-engine.
    Query("q122_bitext_margin", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMining(
        emb.filter(col("label") === 0), emb.filter(col("label") === 1),
        "vec_id", "embedding", k = 4, threshold = 1.0)
        .orderBy("sid")
    },
    // Same cosine fold as q29's oracle; neighborhood means via
    // list(cos ORDER BY rn) + the same left fold; margin and the final
    // argmax mirrored op-for-op.
    oracle =
      s"""WITH $oNorms,
         |srcn AS (
         |  SELECT n.vec_id AS sid, n.v, n.nrm FROM norms n
         |  JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label = 0),
         |tgtn AS (
         |  SELECT n.vec_id AS tid, n.v, n.nrm FROM norms n
         |  JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label = 1),
         |scored AS (
         |  SELECT s.sid, t.tid, ${oCos("s", "t")} AS cos
         |  FROM srcn s CROSS JOIN tgtn t),
         |savg AS (
         |  SELECT sid, list_reduce(list_prepend(0.0, l), (x, y) -> x + y)
         |           / len(l) AS s_avg
         |  FROM (SELECT sid, list(cos ORDER BY rn) AS l FROM (
         |          SELECT sid, cos, row_number() OVER (PARTITION BY sid
         |            ORDER BY cos DESC, tid) AS rn FROM scored)
         |        WHERE rn <= 4 GROUP BY sid)),
         |tavg AS (
         |  SELECT tid, list_reduce(list_prepend(0.0, l), (x, y) -> x + y)
         |           / len(l) AS t_avg
         |  FROM (SELECT tid, list(cos ORDER BY rn) AS l FROM (
         |          SELECT tid, cos, row_number() OVER (PARTITION BY tid
         |            ORDER BY cos DESC, sid) AS rn FROM scored)
         |        WHERE rn <= 4 GROUP BY tid)),
         |m AS (
         |  SELECT sc.sid, sc.tid, sc.cos,
         |         sc.cos / ((sa.s_avg + ta.t_avg) / 2.0) AS margin
         |  FROM scored sc JOIN savg sa USING (sid) JOIN tavg ta USING (tid)),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY sid
         |    ORDER BY margin DESC, tid) AS rk FROM m)
         |SELECT sid, tid, cos, margin FROM r
         |WHERE rk = 1 AND margin >= 1.0 ORDER BY sid""".stripMargin),

    // URL canonicalization + registrable domain (web-corpus curation).
    // The corpus has no URL column, so URLs are SYNTHESIZED
    // deterministically from doc_id in BOTH engines (the fixture
    // discipline: fake input, real operator) — six shapes covering
    // fragments, default ports, utm params, uppercase hosts, multi-part
    // public suffixes, and trailing slashes. Domain counts come back via
    // a broadcast join of the tiny domain aggregate, not a window.
    Query("q117_url_canon", (s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"), expr(
        """CASE doc_id % 6
          |  WHEN 0 THEN concat('https://News.Example.COM/articles/', doc_id)
          |  WHEN 1 THEN concat('https://blog.example.co.uk:443/post?id=', doc_id, '&utm_source=feed')
          |  WHEN 2 THEN concat('http://shop.example.com:80/item/', doc_id, '#reviews')
          |  WHEN 3 THEN concat('https://example.org/?utm_campaign=x&page=', doc_id)
          |  WHEN 4 THEN concat('http://www.data.example.com.au/set/', doc_id, '/')
          |  ELSE concat('https://CDN.example.net/asset/', doc_id, '?v=1#top')
          |END""".stripMargin).as("url"))
      val canon = synth.select(col("doc_id"),
        graft.operators.UrlOps.normalizeUrl(col("url")).as("url_norm"))
        .withColumn("host", graft.operators.UrlOps.host(col("url_norm")))
        .withColumn("domain",
          graft.operators.UrlOps.registrableDomain(col("host")))
      val perDomain = canon.groupBy("domain").agg(count(lit(1)).as("n_domain"))
      canon.join(broadcast(perDomain), "domain")
        .select("doc_id", "url_norm", "host", "domain", "n_domain")
        .orderBy("doc_id")
    },
    // Mirrors UrlOps step-for-step: same regexes (RE2-safe — no
    // lookahead; unmatched optional groups substitute empty in both
    // engines), 'g' flag where Spark's regexp_replace is implicitly
    // global, same PSL-lite label logic via list slicing.
    oracle =
      """WITH synth AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN concat('https://News.Example.COM/articles/', doc_id)
        |      WHEN 1 THEN concat('https://blog.example.co.uk:443/post?id=', doc_id, '&utm_source=feed')
        |      WHEN 2 THEN concat('http://shop.example.com:80/item/', doc_id, '#reviews')
        |      WHEN 3 THEN concat('https://example.org/?utm_campaign=x&page=', doc_id)
        |      WHEN 4 THEN concat('http://www.data.example.com.au/set/', doc_id, '/')
        |      ELSE concat('https://CDN.example.net/asset/', doc_id, '?v=1#top')
        |    END AS url
        |  FROM documents),
        |steps AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
        |    regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS s2
        |  FROM synth),
        |ported AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(s2, '^(http://[^/?#]*):80([/?#].*)?$', '\1\2'),
        |      '^(https://[^/?#]*):443([/?#].*)?$', '\1\2') AS s3
        |  FROM steps),
        |cleaned AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(s3, '&utm_[^&#]*', '', 'g'),
        |          '\?utm_[^&#]*&', '?'),
        |        '\?utm_[^&#]*$', ''),
        |      '/+$', '') AS url_norm,
        |    lower(regexp_extract(s3, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host
        |  FROM ported),
        |bare AS (
        |  SELECT doc_id, url_norm, host,
        |         regexp_replace(host, ':[0-9]+$', '') AS h FROM cleaned),
        |dom AS (
        |  SELECT doc_id, url_norm, host,
        |    CASE WHEN len(string_split(h, '.')) <= 2 THEN h
        |         WHEN array_to_string(string_split(h, '.')[-2:], '.') IN
        |              ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp',
        |               'com.au','net.au','org.au','com.br','com.cn','com.mx',
        |               'co.in','co.nz','co.za')
        |         THEN array_to_string(string_split(h, '.')[-3:], '.')
        |         ELSE array_to_string(string_split(h, '.')[-2:], '.') END AS domain
        |  FROM bare)
        |SELECT doc_id, url_norm, host, domain,
        |       CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n_domain
        |FROM dom ORDER BY doc_id""".stripMargin),

    // Boilerplate removal by document frequency (CCNet/C4 pass): lines
    // present in >=40% of documents are removed EVERYWHERE (q49's
    // keep-first sibling keeps first occurrences). Same word->line
    // re-delimiting as q49, so hot stopword lines stress the
    // broadcast-anti-join skew path.
    Query("q116_boilerplate", (s, dir) => {
      val lined = t(s, dir, "documents")
        .select(col("doc_id"), translate(col("text"), " ", "\n").as("text"))
      LineDedup.removeBoilerplate(lined, "doc_id", "text", num = 2L, denom = 5L)
        .orderBy("doc_id")
    },
    oracle =
      """WITH docs AS (
        |  SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, chr(10))) AS line,
        |         unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM docs),
        |nn AS (SELECT count(*) AS ndocs FROM docs),
        |boiler AS (
        |  SELECT line FROM lines CROSS JOIN nn
        |  GROUP BY line, ndocs
        |  HAVING count(DISTINCT doc_id) * 5 >= ndocs * 2),
        |kept AS (SELECT l.* FROM lines l ANTI JOIN boiler b USING (line)),
        |rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(r.text_clean, '') AS text_clean
        |FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Exact heavy hitters with bounded state: Misra-Gries candidates
    // (k=255 counters, superset-guaranteed above 1/256 share) + exact
    // recount of the <=255 candidates — tokens holding >=0.5% of the
    // corpus, never materializing the full token frequency table. The
    // sketch itself is deliberately NOT oracle-gated (its weights are
    // partitioning-dependent); the composition is exact.
    Query("q115_heavy_hitters", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      graft.operators.HeavyHitters.exactTopShare(
        toks, "token", k = 255, num = 1L, denom = 200L)
    },
    // The recount IS the oracle: plain GROUP BY ... HAVING share. The
    // engine's sketch pass only proposes candidates; the guarantee
    // (threshold 1/200 > 1/(k+1) = 1/256) makes both sides exact.
    oracle =
      s"""WITH tok AS (SELECT unnest($oToks) AS token FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
         |SELECT token AS item, CAST(count(*) AS BIGINT) AS cnt, nn.n
         |FROM tok CROSS JOIN nn
         |GROUP BY 1, nn.n
         |HAVING count(*) * 200 >= nn.n * 1
         |ORDER BY cnt DESC, item""".stripMargin),

    // Explicit GROUPING SETS — the general form q73/q86 are sugar for:
    // the two marginals WITHOUT the grand total or the finest grain,
    // still one raw-data pass (the cascade re-aggregates the cached
    // finest table; no Expand, no second scan).
    Query("q114_grouping_sets", (s, dir) => {
      graft.operators.GroupingSets.groupingSets(
        t(s, dir, "documents"), Seq("lang", "source"), "n_chars",
        sets = Seq(Seq("lang"), Seq("source")))
        .orderBy(col("gid"), col("lang").asc_nulls_first,
          col("source").asc_nulls_first)
    },
    // Same gid convention as q73/q86 (GROUPING bits, leftmost dim = MSB)
    // over exactly the two requested marginals.
    oracle =
      """SELECT lang, source,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |       min(n_chars) AS min_v, max(n_chars) AS max_v,
        |       CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY GROUPING SETS ((lang), (source))
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin),

    // Hybrid-retrieval RRF fusion: the dense arm (q29's exact cosine,
    // top-10) and a lexical arm (distinct-token overlap, top-10) fused
    // by reciprocal-rank score 1/(60+rank) — the calibration-free hybrid
    // combiner. doc_id and vec_id share the 0..N id space by testdata
    // construction, so the two arms rank the same corpus.
    Query("q136_rrf_fusion", (s, dir) => {
      val dense = Similarity.bruteForceTopK(
        queriesSubset(s, dir), t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 10)
      val lex = graft.operators.Fusion.tokenOverlapTopK(
        t(s, dir, "documents").filter(col("doc_id") < 20),
        t(s, dir, "documents"), "doc_id", "text", k = 10)
      graft.operators.Fusion.rrf(
        Seq("dense" -> dense, "lex" -> lex), c = 60, topK = 5)
        .orderBy("qid", "rank")
    },
    // RRF: dense arm = q29's cosine CTEs at k=10; lexical arm =
    // distinct-token overlap at k=10; fused score mirrors the engine's
    // fixed fold (0.0 + dense term + lexical term — each one
    // exactly-rounded division, so doubles match bit-for-bit).
    oracle =
      s"""WITH $oRrfCtes
         |SELECT * FROM (
         |  SELECT qid,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY score DESC, nid) AS BIGINT) AS rank,
         |         nid, score, r_dense, r_lex
         |  FROM fused)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // Privacy release gate: k-anonymity / l-diversity audit of the
    // corpus metadata sidecar — QI = (lang, 200-char length bucket),
    // sensitive attribute = source. Groups an attacker could narrow
    // below 5 candidates, or whose source takes < 3 distinct values,
    // fail their flag.
    Query("q137_k_anonymity", (s, dir) => {
      graft.operators.Privacy.kAnonymityAudit(
        t(s, dir, "documents")
          .withColumn("len_bucket", expr("n_chars DIV 200")),
        Seq("lang", "len_bucket"), "source", k = 5, l = 3)
        .orderBy("lang", "len_bucket")
    },
    // k-anonymity: plain GROUP BY over the QI tuple; flags compare the
    // exact integer counts against k=5 / l=3.
    oracle =
      """SELECT lang, n_chars // 200 AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS group_size,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
        |       count(*) >= 5 AS k_anonymous,
        |       count(DISTINCT source) >= 3 AS l_diverse
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang, len_bucket""".stripMargin),

    // Priority sampling: 40 docs weighted by n_chars, without
    // replacement, with the unbiased max(w, tau) total estimator — the
    // weighted subset-sum sketch (sample inclusion ∝ size, any slice's
    // character mass estimable from the sample alone).
    Query("q138_priority_sample", (s, dir) => {
      Sampling.prioritySample(t(s, dir, "documents"), "doc_id", "n_chars",
        k = 40).orderBy("rank")
    },
    // Priority sampling: the engine's exact arithmetic — priority =
    // (w·2^32)/(h+1) with h the Knuth 32-bit mix, τ = the 41st
    // priority (0 when absent), est = max(w, τ).
    oracle =
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         CAST(n_chars AS DOUBLE) * 4294967296 /
        |           CAST((((doc_id % 2147483648) * 2654435761) % 4294967296) + 1 AS DOUBLE) AS priority
        |  FROM documents WHERE n_chars > 0),
        |rk AS (
        |  SELECT doc_id, n_chars, priority,
        |         row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
        |  FROM h),
        |tau AS (
        |  SELECT coalesce(min(priority), 0.0) AS tau FROM rk WHERE rn = 41)
        |SELECT doc_id, n_chars, CAST(rn AS BIGINT) AS rank, priority,
        |       greatest(CAST(n_chars AS DOUBLE), tau.tau) AS est_weight
        |FROM rk CROSS JOIN tau
        |WHERE rn <= 40 ORDER BY rank""".stripMargin),

    // Compaction planning: pack each source's documents (doc_id order
    // preserved — locality survives the rewrite) into ~4000-char output
    // bins via the one-window running-sum rule; per-bin totals audited
    // by re-aggregation in the same plan.
    Query("q139_compaction_plan", (s, dir) => {
      val plan = graft.operators.Layout.compactionPlan(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", target = 4000L)
      val binTotals = plan.groupBy("source", "bin")
        .agg(sum("n_chars").as("bin_chars"),
          count(lit(1)).as("bin_docs"))
      plan.join(binTotals, Seq("source", "bin"))
        .select("source", "bin", "bin_pos", "doc_id", "n_chars",
          "bin_chars", "bin_docs")
        .orderBy("source", "bin", "bin_pos")
    },
    // Compaction: bin = (cumsum − size) // target per source in doc_id
    // order; totals re-aggregated per (source, bin).
    oracle =
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents),
        |b AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(cum - n_chars AS BIGINT) // 4000 AS bin
        |  FROM c),
        |p AS (
        |  SELECT source, bin, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source, bin
        |           ORDER BY doc_id) AS BIGINT) AS bin_pos
        |  FROM b),
        |t AS (
        |  SELECT source, bin, CAST(sum(n_chars) AS BIGINT) AS bin_chars,
        |         CAST(count(*) AS BIGINT) AS bin_docs
        |  FROM b GROUP BY 1, 2)
        |SELECT p.source, p.bin, p.bin_pos, p.doc_id, p.n_chars,
        |       t.bin_chars, t.bin_docs
        |FROM p JOIN t USING (source, bin)
        |ORDER BY p.source, p.bin, p.bin_pos""".stripMargin),
  )

  /** q39 sign-LSH shape: 16 planes, 4-bit bands (seed 42 — lshTopK's
    * default). Small on purpose: the plane matrix rides in the oracle SQL
    * as literals.
    */
  private val LshPlanes = 16

  private val LshBandBits = 4

  /** Unrolled BPE training oracle (one CTE trio per merge step) —
    * mirrors [[graft.operators.Bpe.trainMerges]]: pair counts from each
    * word's own symbol list, argmax by (freq DESC, l, r), greedy
    * left-to-right replace-last merge fold. The fold wraps symbols as
    * single-item lists so DuckDB's init-free list_reduce carries a LIST
    * accumulator; its first-element init equals the engine's
    * empty-accumulator start (the first symbol can never merge).
    */
  private def oBpe(numMerges: Int): String =
    oBpeCtes(numMerges) + "\n" + (1 to numMerges)
      .map(s => s"SELECT CAST($s AS INT) AS step, l AS lhs, r AS rhs, freq FROM b$s")
      .mkString("", "\nUNION ALL\n", "\nORDER BY step")

  /** q93: the subword vocabulary read off the final segmentation. */
  private def oBpeVocab(numMerges: Int): String =
    oBpeCtes(numMerges) +
      s"""
         |SELECT subword, CAST(sum(cnt) AS BIGINT) AS freq
         |FROM (SELECT cnt, unnest(syms) AS subword FROM s$numMerges)
         |GROUP BY 1 ORDER BY freq DESC, subword""".stripMargin

  /** q94: per-doc BPE token counts off the same final segmentation. */
  private def oBpeDocTokens(numMerges: Int): String =
    oBpeCtes(numMerges) +
      s"""
         |, wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM s$numMerges),
         |dw AS (
         |  SELECT doc_id, unnest($oToks) AS w FROM documents),
         |st AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN wl USING (w) GROUP BY 1)
         |SELECT d.doc_id,
         |       coalesce(st.n_words, CAST(0 AS BIGINT)) AS n_words,
         |       coalesce(st.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens
         |FROM documents d LEFT JOIN st USING (doc_id)
         |ORDER BY doc_id""".stripMargin

  /** q95: quota sample (q88's CTEs, q-prefixed to avoid name capture) →
    * per-doc BPE token counts (q94's CTEs) → q51's packing shape over
    * the sampled docs only.
    */
  private def oSamplePack(numMerges: Int): String =
    oBpeCtes(numMerges) +
      s"""
         |, wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM s$numMerges),
         |dw AS (
         |  SELECT doc_id, unnest($oToks) AS w FROM documents),
         |st AS (
         |  SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN wl USING (w) GROUP BY 1),
         |qcnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |qw AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS wt FROM qcnt),
         |qd AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |         list(wt ORDER BY source NULLS FIRST)), (a, b) -> a + b) AS denom
         |       FROM qw),
         |qq AS (SELECT source, n,
         |         CAST(floor(CAST(600 AS DOUBLE) * wt / denom) AS BIGINT) AS quota
         |       FROM qw CROSS JOIN qd),
         |qranked AS (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY (((doc_id % 2147483648) * 2654435761) % 4294967296) % 1000000, doc_id) AS rn
         |  FROM documents),
         |samp AS (
         |  SELECT r.doc_id FROM qranked r JOIN qq USING (source)
         |  WHERE r.rn <= least(qq.quota, qq.n)),
         |sized AS (
         |  SELECT d.doc_id, coalesce(st.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens
         |  FROM documents d LEFT JOIN st USING (doc_id)
         |  WHERE d.doc_id IN (SELECT doc_id FROM samp)),
         |ss AS (
         |  SELECT doc_id, n_bpe_tokens,
         |         (((doc_id % 2147483648) * 2654435761) % 4294967296) % 8 AS stream
         |  FROM sized),
         |cpk AS (
         |  SELECT doc_id, n_bpe_tokens, stream,
         |         CAST(sum(n_bpe_tokens) OVER (PARTITION BY stream ORDER BY doc_id)
         |              - n_bpe_tokens AS BIGINT) AS "offset"
         |  FROM ss)
         |SELECT doc_id, n_bpe_tokens, stream, "offset", "offset" // 2048 AS shard
         |FROM cpk ORDER BY doc_id""".stripMargin

  private def oJaccardPairs(n: Int, theta: Double): String =
    s"""WITH ${oJaccardCtes(n)}
       |SELECT i, j, common, jaccard FROM jac
       |WHERE jaccard >= $theta ORDER BY i, j""".stripMargin

  /** Exact all-pairs n-gram containment |S_i∩S_j|/|S_i| ≥ theta —
    * DIRECTIONAL (both orientations join, i != j), denominator is the
    * contained side's set size only. Ground truth for q126: the prefix
    * filter is exact-complete, so the brute-force join equals it.
    */
  private def oContainmentPairs(n: Int, theta: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $oToks AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(tk) - ${n - 2}),
       |      i -> list_aggregate(tk[i:i+${n - 1}], 'string_agg', ' ')))) AS s
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, CAST(c AS BIGINT) AS common,
       |       CAST(c AS DOUBLE) / CAST(si.n AS DOUBLE) AS containment
       |FROM inter JOIN sizes si ON si.doc_id = i
       |WHERE CAST(c AS DOUBLE) / CAST(si.n AS DOUBLE) >= $theta
       |ORDER BY i, j""".stripMargin

  /** Per-doc simhash, width = TextAnalysis.SimHashBits (matches
    * TextAnalysis.simHash).
    */
  private val oSimhash = oSimhashCte("simhash", 31)

  /** q127/q128 sign matrix as VALUES rows — the SAME driver-generated
    * ±1 rows the engine's plan literals carry
    * ([[graft.operators.Projection.signMatrix]](7, 16, 64)), so both
    * engines fold identical products in identical order.
    */
  private def oSignRows(seed: Long, dOut: Int, dIn: Int): String =
    graft.operators.Projection.signMatrix(seed, dOut, dIn).zipWithIndex
      .map { case (r, j) =>
        val arr = r.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"($j, $arr)"
      }.mkString(",\n  ")

  /** Projection CTEs shared by q127/q128: per-(vec, j) coordinate
    * `pj` = fold(v · signs_j) / sqrt(dOut), then the ordered 16-dim
    * list per vec. Mirrors [[graft.operators.Projection.randomProject]]
    * token-for-token (double widen, array-order fold, one division).
    */
  private def oProjCtes: String =
    s"""signs(j, s) AS (VALUES
       |  ${oSignRows(7L, 16, 64)}),
       |pcoord AS (
       |  SELECT e.vec_id, sg.j,
       |         list_reduce(list_prepend(0.0, list_transform(range(64),
       |           i -> e.v[i+1] * sg.s[i+1])), (x, y) -> x + y)
       |           / sqrt(16.0) AS pj
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings) e CROSS JOIN signs sg),
       |pvec AS (
       |  SELECT vec_id, list(pj ORDER BY j) AS pv
       |  FROM pcoord GROUP BY vec_id)""".stripMargin

  /** q39 oracle: re-derives the sign-LSH band keys from the SAME ±1
    * hyperplanes the engine uses ([[Similarity.hyperplanes]](16, 64, 42) —
    * embedded here as VALUES literals), then the same banded candidate
    * join + exact cosine rerank. ±1·x products and the left-fold double
    * sums are bit-identical across engines, so even the sign decisions at
    * dot≈0 agree exactly.
    */
  private def oLsh: String = {
    val planes = Similarity.hyperplanes(LshPlanes, 64, 42L)
    val planeRows = planes.zipWithIndex.map { case (h, j) =>
      val arr = h.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"($j, ${1L << (j % LshBandBits)}, $arr)"
    }.mkString(",\n  ")
    s"""WITH $oNorms,
       |planes(j, bitval, h) AS (VALUES
       |  $planeRows),
       |bits AS (
       |  SELECT n.vec_id, p.j,
       |         CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(64),
       |                i -> n.v[i+1] * p.h[i+1])), (x, y) -> x + y) >= 0
       |              THEN p.bitval ELSE 0 END AS bit
       |  FROM norms n CROSS JOIN planes p),
       |bands AS (
       |  SELECT vec_id, j // $LshBandBits AS band, CAST(sum(bit) AS BIGINT) AS bandKey
       |  FROM bits GROUP BY vec_id, j // $LshBandBits),
       |cands AS (
       |  SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS nid
       |  FROM bands qb JOIN bands cb
       |    ON qb.band = cb.band AND qb.bandKey = cb.bandKey
       |  WHERE qb.vec_id < 20 AND qb.vec_id <> cb.vec_id),
       |ranked AS (
       |  SELECT cd.qid, cd.nid, ${oCos("q", "c")} AS cos,
       |         row_number() OVER (PARTITION BY cd.qid
       |           ORDER BY ${oCos("q", "c")} DESC, cd.nid) AS rank
       |  FROM cands cd
       |  JOIN norms q ON q.vec_id = cd.qid
       |  JOIN norms c ON c.vec_id = cd.nid)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** q41 oracle: rebuilds byteHistogram's 8-bucket byte fallback histogram in SQL by
    * expanding each code point to its UTF-8 bytes (1-4 per char — astral
    * included), then count/len per bucket as exact double division.
    */
  /** q41 (round-14 pixel upgrade): every output column re-derives from
    * the PixelFixtures pixel arithmetic — kind from the format slice,
    * sizes from the container layout, pixel count and the 8-bucket
    * luminance histogram from the per-pixel formula. No bytes touched.
    */
  private val oMultimodalFeatures: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 3 AS m, doc_id % 24 + 9 AS w,
      |    (doc_id * 5) % 24 + 8 AS h, doc_id % 10 = 7 AS corrupt
      |  FROM documents),
      |lum AS (
      |  SELECT doc_id, CASE WHEN m = 0 THEN u.p * 1000
      |    ELSE 299 * u.p + 587 * ((u.p * 3) % 256)
      |      + 114 * ((u.p * 5) % 256) END AS lum
      |  FROM (
      |    SELECT doc_id, m,
      |      unnest(flatten(list_transform(range(h), y ->
      |        list_transform(range(w), x ->
      |          {'p': ((x + doc_id % 31) * (y + doc_id % 37) * 3
      |                 + doc_id) % 256})))) AS u
      |    FROM d WHERE NOT corrupt)),
      |hist AS (
      |  SELECT doc_id,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 0 THEN 1 END) AS BIGINT) AS h0,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 1 THEN 1 END) AS BIGINT) AS h1,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 2 THEN 1 END) AS BIGINT) AS h2,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 3 THEN 1 END) AS BIGINT) AS h3,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 4 THEN 1 END) AS BIGINT) AS h4,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 5 THEN 1 END) AS BIGINT) AS h5,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 6 THEN 1 END) AS BIGINT) AS h6,
      |    CAST(count(CASE WHEN (lum // 1000) // 32 = 7 THEN 1 END) AS BIGINT) AS h7
      |  FROM lum GROUP BY 1)
      |SELECT d.doc_id,
      |  CASE WHEN d.corrupt THEN 'application/octet-stream'
      |    WHEN d.m = 2 THEN 'image/bmp' ELSE 'image/png' END AS kind,
      |  CAST(CASE WHEN d.corrupt THEN 40
      |    WHEN d.m = 0 THEN 68 + d.h * (1 + d.w)
      |    WHEN d.m = 1 THEN 68 + d.h * (1 + 3 * d.w)
      |    ELSE 54 + d.h * (((3 * d.w + 3) // 4) * 4) END AS BIGINT)
      |    AS n_bytes,
      |  CASE WHEN NOT d.corrupt THEN CAST(d.w * d.h AS BIGINT) END
      |    AS n_pixels,
      |  hist.h0, hist.h1, hist.h2, hist.h3,
      |  hist.h4, hist.h5, hist.h6, hist.h7
      |FROM d LEFT JOIN hist USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** PQ oracle CTEs for the q76 codebooks (8 blocks of 8 dims, the first
    * 16 vectors as codes): `cb(block, code, cvec)` and `d(vec_id, block,
    * code, dist)`, the squared distance of every vector of `embeddings`
    * (restricted by `where`, if given) to every code of its block.
    */
  private def oPqDistCtes(where: String = ""): String =
    s"""cb AS (
       |  SELECT b.b AS block, e.vec_id AS code,
       |         e.embedding[b.b*8+1 : b.b*8+8] AS cvec
       |  FROM embeddings e, (SELECT unnest(generate_series(0, 7)) AS b) b
       |  WHERE e.vec_id < 16),
       |d AS (
       |  SELECT v.vec_id, cb.block, cb.code,
       |         list_reduce(list_transform(generate_series(1, 8), i ->
       |           (CAST(v.embedding[cb.block*8+i] AS DOUBLE) - CAST(cb.cvec[i] AS DOUBLE))
       |           * (CAST(v.embedding[cb.block*8+i] AS DOUBLE) - CAST(cb.cvec[i] AS DOUBLE))),
       |           (a, x) -> a + x) AS dist
       |  FROM embeddings v CROSS JOIN cb${if (where.isEmpty) "" else "\n  WHERE " + where})""".stripMargin

  /** `codes(vec_id, block, code)`: each vector's nearest code per block
    * over [[oPqDistCtes]]' `d`, ties to the lower code.
    */
  private val oPqCodesCte: String =
    """codes AS (
      |  SELECT vec_id, block, code FROM (
      |    SELECT vec_id, block, code,
      |           row_number() OVER (PARTITION BY vec_id, block
      |                              ORDER BY dist, code) AS rn
      |    FROM d) WHERE rn = 1)""".stripMargin

  /** Adaptive scan-parallelism floor for CPU-heavy text stages
    * (tokenization, hashing, BPE pre-splits): when the source scan
    * yields fewer partitions than the session's parallelism (a sub-MB
    * single-row-group parquet file is ONE split, so the per-row work
    * of every downstream expression runs serially), rebalance by id
    * across defaultParallelism; when the source already provides
    * enough splits (any real deployment), this is a NO-OP — no
    * exchange is added at 100-TB layouts, where shuffling text bytes
    * pre-tokenization would be exactly the wrong trade (guide §2.3).
    */
  private def spreadDocs(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, col("doc_id"))
  }
}
