package graft.queries

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryKit._

/** Curation-audit and evaluation queries q140–q218: drift and release
  * audits, weak supervision, retrieval and ranking metrics, agreement
  * and correlation statistics, spectral and graph reads.
  */
object CurationQueries {

  lazy val all: Seq[Query] = Seq(
    // Distribution drift audit: language-mix total-variation distance
    // between the first corpus half (the blessed reference) and the
    // second (the incoming batch) — ½·Σ|p−q| with an exact DECIMAL
    // numerator. GATE SURFACE IS EXACT-INTEGER ONLY (round-10 fix):
    // r9's hash burned on the double/decimal128 columns despite local
    // value+type exactness, so the gate now emits shares as 2^30
    // fixed point computed with integer division (exact in both
    // engines; counts < 2^33 at gate scale) and the DECIMAL numerator
    // / denominator as strings — tvd itself is num_total/den, float-
    // free here, still a double in the operator's own output.
    Query("q140_drift_audit", (s, dir) => {
      val d = graft.operators.Profiling.distributionDrift(
        t(s, dir, "documents"), "lang", col("doc_id") < 250)
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val tot = d.agg(sum("n_ref").cast("long").as("__n"),
        sum("n_batch").cast("long").as("__m"),
        sum("tvd_num").cast(d38).as("__numtot"))
      d.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_ref"), col("n_batch"),
          when(col("__n") > 0,
            expr("(n_ref * 1073741824L) DIV __n")).as("share_ref_q30"),
          when(col("__m") > 0,
            expr("(n_batch * 1073741824L) DIV __m")).as("share_batch_q30"),
          col("tvd_num").cast("string").as("tvd_num_str"),
          col("__numtot").cast("string").as("tvd_num_total_str"),
          (lit(2).cast(d38) * col("__n").cast(d38) * col("__m").cast(d38))
            .cast(d38).cast("string").as("tvd_den_str"))
        .orderBy("lang")
    },
    // Drift: per-bin conditional counts, HUGEINT (=DECIMAL(38,0))
    // cross products for the exact TVD numerator. Round 10: the gate
    // surface is exact-integer only — 2^30 fixed-point shares via `//`
    // (floor; operands non-negative, matching Spark DIV) and the
    // HUGEINT numerator/denominator as VARCHAR — no double or
    // decimal128 column remains for an environment's hash to bend.
    oracle =
      """WITH hist AS (
        |  SELECT lang,
        |         CAST(count(*) FILTER (WHERE doc_id < 250) AS BIGINT) AS n_ref,
        |         CAST(count(*) FILTER (WHERE doc_id >= 250) AS BIGINT) AS n_batch
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_ref) AS BIGINT) AS n,
        |         CAST(sum(n_batch) AS BIGINT) AS m FROM hist),
        |pb AS (
        |  SELECT h.lang, h.n_ref, h.n_batch, t.n, t.m,
        |         abs(CAST(h.n_ref AS HUGEINT) * t.m -
        |             CAST(h.n_batch AS HUGEINT) * t.n) AS tvd_num
        |  FROM hist h CROSS JOIN tot t),
        |tv AS (SELECT CAST(sum(tvd_num) AS HUGEINT) AS num_total FROM pb)
        |SELECT pb.lang, pb.n_ref, pb.n_batch,
        |       CASE WHEN pb.n > 0 THEN
        |         CAST((pb.n_ref * 1073741824) // pb.n AS BIGINT)
        |       END AS share_ref_q30,
        |       CASE WHEN pb.m > 0 THEN
        |         CAST((pb.n_batch * 1073741824) // pb.m AS BIGINT)
        |       END AS share_batch_q30,
        |       CAST(pb.tvd_num AS VARCHAR) AS tvd_num_str,
        |       CAST(tv.num_total AS VARCHAR) AS tvd_num_total_str,
        |       CAST(CAST(2 AS HUGEINT) * pb.n * pb.m AS VARCHAR)
        |         AS tvd_den_str
        |FROM pb CROSS JOIN tv
        |ORDER BY pb.lang""".stripMargin),

    // Canonical text normalization (NFC + whitespace collapse + control/
    // format strip + trim) — exercised on a synthetically-dirtied prefix
    // (combining acute that NFC must compose, zero-width space and ZWJ
    // that the format-strip must remove, tab/multi-space/VT runs the
    // collapse must fold) so the gate tests the rewrite, not the ASCII
    // no-op.
    Query("q141_canonical_text", (s, dir) => {
      // "Cafe"+combining-acute (NFC must compose), zero-width space
      // and ZWJ (format-strip must remove), tab/VT/multi-space runs
      // (collapse must fold) -- explicit escapes, mirrored in the
      // oracle literal.
      val dirty = concat(
        lit("Cafe\u0301\u200b  du\tmonde \u000b zw\u200dj: "),
        col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), dirty.as("raw"))
        .select(col("doc_id"),
          TextAnalysis.canonicalize(col("raw")).as("canon"),
          (col("raw") =!= TextAnalysis.canonicalize(col("raw"))).as("changed"))
        .orderBy("doc_id")
    },
    // Canonicalization: utf8proc NFC (stability-policy-identical to the
    // JDK tables), then the same two RE2 passes and trim; the dirty
    // prefix is rebuilt from chr() codepoints so both engines see
    // byte-identical input.
    oracle =
      """WITH raw AS (
        |  SELECT doc_id,
        |         'Cafe' || chr(769) || chr(8203) || '  du' || chr(9) ||
        |         'monde ' || chr(11) || ' zw' || chr(8205) || 'j: ' || text AS raw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, raw,
        |         trim(regexp_replace(regexp_replace(nfc_normalize(raw),
        |           '[ \t\n\r\f\x0B]+', ' ', 'g'),
        |           '[\p{Cc}\p{Cf}]', '', 'g')) AS canon
        |  FROM raw)
        |SELECT doc_id, canon, raw <> canon AS changed
        |FROM c ORDER BY doc_id""".stripMargin),

    // Weak supervision: three rule labeling functions (length band,
    // 'the' presence, lexical diversity) -> per-doc majority-vote
    // consensus label with tallies; ties and all-abstain stay NULL
    // (unlabeled).
    Query("q142_weak_labels", (s, dir) => {
      graft.operators.Supervision.majorityVote(
        weakLfs(t(s, dir, "documents")),
        Seq("lf_len", "lf_the", "lf_div"))
        .orderBy("doc_id")
    },
    // Majority vote: fixed-order CASE tallies over the three LF votes.
    oracle =
      s"""WITH $oWeakLfs,
         |v AS (
         |  SELECT doc_id, lf_len, lf_the, lf_div,
         |         CAST((CASE WHEN lf_len = 1 THEN 1 ELSE 0 END) +
         |              (CASE WHEN lf_the = 1 THEN 1 ELSE 0 END) +
         |              (CASE WHEN lf_div = 1 THEN 1 ELSE 0 END) AS BIGINT) AS votes_pos,
         |         CAST((CASE WHEN lf_len = 0 THEN 1 ELSE 0 END) +
         |              (CASE WHEN lf_the = 0 THEN 1 ELSE 0 END) +
         |              (CASE WHEN lf_div = 0 THEN 1 ELSE 0 END) AS BIGINT) AS votes_neg
         |  FROM lf)
         |SELECT doc_id, lf_len, lf_the, lf_div, votes_pos, votes_neg,
         |       CASE WHEN votes_pos > votes_neg THEN 1
         |            WHEN votes_neg > votes_pos THEN 0 END AS label,
         |       (votes_pos = 0 OR votes_neg = 0) AND votes_pos + votes_neg > 0 AS unanimous
         |FROM v ORDER BY doc_id""".stripMargin),

    // The LF audit table over the same vote: coverage / agreement /
    // conflict per labeling function vs the q142 consensus — which
    // heuristic to fix first.
    Query("q143_lf_stats", (s, dir) => {
      val voted = graft.operators.Supervision.majorityVote(
        weakLfs(t(s, dir, "documents")),
        Seq("lf_len", "lf_the", "lf_div"))
      graft.operators.Supervision.lfStats(
        voted, Seq("lf_len", "lf_the", "lf_div"))
        .orderBy("lf")
    },
    // LF audit: unpivot the votes, join each back to the consensus.
    oracle =
      s"""WITH $oWeakLfs,
         |v AS (
         |  SELECT doc_id, lf_len, lf_the, lf_div,
         |         (CASE WHEN lf_len = 1 THEN 1 ELSE 0 END) +
         |         (CASE WHEN lf_the = 1 THEN 1 ELSE 0 END) +
         |         (CASE WHEN lf_div = 1 THEN 1 ELSE 0 END) AS vp,
         |         (CASE WHEN lf_len = 0 THEN 1 ELSE 0 END) +
         |         (CASE WHEN lf_the = 0 THEN 1 ELSE 0 END) +
         |         (CASE WHEN lf_div = 0 THEN 1 ELSE 0 END) AS vn
         |  FROM lf),
         |lab AS (
         |  SELECT doc_id, lf_len, lf_the, lf_div,
         |         CASE WHEN vp > vn THEN 1 WHEN vn > vp THEN 0 END AS label
         |  FROM v),
         |up AS (
         |  SELECT 'lf_len' AS lf, lf_len AS vote, label FROM lab
         |  UNION ALL
         |  SELECT 'lf_the' AS lf, lf_the AS vote, label FROM lab
         |  UNION ALL
         |  SELECT 'lf_div' AS lf, lf_div AS vote, label FROM lab)
         |SELECT lf, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(vote) AS BIGINT) AS coverage,
         |       CAST(count(*) FILTER (WHERE vote = label) AS BIGINT) AS agree,
         |       CAST(count(*) FILTER (WHERE vote IS NOT NULL AND label IS NOT NULL
         |                               AND vote <> label) AS BIGINT) AS conflict,
         |       CAST(count(*) FILTER (WHERE vote IS NOT NULL AND label IS NULL)
         |            AS BIGINT) AS no_consensus
         |FROM up GROUP BY lf ORDER BY lf""".stripMargin),

    // Golden-record survivorship: entity-resolution blocks (first-2-token
    // prefix fingerprint — multi-member on this corpus, so the policies
    // actually arbitrate) collapse to one consolidated row each —
    // deterministic MODE (count desc, value asc) for lang/source, max
    // for n_chars, min doc_id as the stable representative.
    Query("q144_golden_record", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val clustered = t(s, dir, "documents")
        .withColumn("ckey",
          TextAnalysis.polyHash(concat_ws(" ", slice(toks, 1, 2))))
      graft.operators.Merge.goldenRecord(
        clustered, "ckey", "doc_id",
        modeCols = Seq("lang", "source"), maxCols = Seq("n_chars"))
        .orderBy("rep_id")
    },
    // Survivorship: per-cluster counts + deterministic mode joins.
    oracle =
      s"""WITH h AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         ${oPolyHash("array_to_string(list_slice(" + oToks + ", 1, 2), ' ')")} AS ckey
         |  FROM documents),
         |base AS (
         |  SELECT ckey, CAST(count(*) AS BIGINT) AS n_members,
         |         min(doc_id) AS rep_id, max(n_chars) AS n_chars
         |  FROM h GROUP BY 1),
         |lc AS (SELECT ckey, lang, count(*) AS cnt FROM h
         |       WHERE lang IS NOT NULL GROUP BY 1, 2),
         |lb AS (SELECT ckey, max(cnt) AS best FROM lc GROUP BY 1),
         |lw AS (SELECT lc.ckey, min(lc.lang) AS lang FROM lc
         |       JOIN lb ON lc.ckey = lb.ckey AND lc.cnt = lb.best GROUP BY 1),
         |sc AS (SELECT ckey, source, count(*) AS cnt FROM h
         |       WHERE source IS NOT NULL GROUP BY 1, 2),
         |sb AS (SELECT ckey, max(cnt) AS best FROM sc GROUP BY 1),
         |sw AS (SELECT sc.ckey, min(sc.source) AS source FROM sc
         |       JOIN sb ON sc.ckey = sb.ckey AND sc.cnt = sb.best GROUP BY 1)
         |SELECT b.ckey, b.n_members, b.rep_id, b.n_chars, lw.lang, sw.source
         |FROM base b LEFT JOIN lw USING (ckey) LEFT JOIN sw USING (ckey)
         |ORDER BY b.rep_id""".stripMargin),

    // Retrieve-then-rerank, composed end-to-end as ONE lazy plan: the
    // q136 arms (dense cosine + lexical overlap, top-10 each) fuse by
    // RRF to 8 candidates, which the exact cosine reranks to a final
    // top-5 — approximate arms propose, the precise scorer disposes.
    Query("q145_retrieve_rerank", (s, dir) => {
      val dense = Similarity.bruteForceTopK(
        queriesSubset(s, dir), t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 10)
      val lex = graft.operators.Fusion.tokenOverlapTopK(
        t(s, dir, "documents").filter(col("doc_id") < 20),
        t(s, dir, "documents"), "doc_id", "text", k = 10)
      val fused = graft.operators.Fusion.rrf(
        Seq("dense" -> dense, "lex" -> lex), c = 60, topK = 8)
      graft.operators.Fusion.exactRerank(
        fused, t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
        .orderBy("qid", "rank")
    },
    // Retrieve-then-rerank: the q136 fusion CTEs cut at 8, re-scored by
    // the exact cosine fold (zero-norm candidates drop), final top-5.
    oracle =
      s"""WITH $oRrfCtes,
         |fr AS (
         |  SELECT * FROM (
         |    SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY score DESC, nid) AS frank
         |    FROM fused) WHERE frank <= 8),
         |rr AS (
         |  SELECT f.qid, f.nid, ${oCos("q", "c")} AS cos
         |  FROM fr f
         |  JOIN norms q ON q.vec_id = f.qid
         |  JOIN norms c ON c.vec_id = f.nid
         |  WHERE q.nrm * c.nrm <> 0)
         |SELECT * FROM (
         |  SELECT qid,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, nid) AS BIGINT) AS rank,
         |         nid, cos
         |  FROM rr)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // One-row corpus datasheet (the dataset-card headline numbers):
    // volume, diversity, hygiene (dups / short docs / PII) in a single
    // aggregate pass — the release artifact every corpus ships with.
    Query("q146_datasheet", (s, dir) => {
      graft.operators.Profiling.datasheet(
        t(s, dir, "documents"), "text", "lang", "source",
        lenChars = col("n_chars"))
    },
    // Datasheet: one aggregate over one scan-side projection; the dup
    // counter dedups on the polyHash fingerprint exactly as the engine.
    oracle =
      s"""WITH d AS (
         |  SELECT lang, source, n_chars,
         |         CAST(len($oToks) AS BIGINT) AS ntok,
         |         ${oPolyHash("text")} AS fp,
         |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) +
         |         len(regexp_extract_all(text, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) > 0 AS pii
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS exact_dup_docs,
         |       CAST(count(*) FILTER (WHERE n_chars < 120) AS BIGINT) AS short_docs,
         |       CAST(count(*) FILTER (WHERE pii) AS BIGINT) AS pii_docs,
         |       CASE WHEN count(*) > 0 THEN
         |         CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |       END AS mean_chars
         |FROM d""".stripMargin),

    // Source-ablation report (leave-one-out data valuation): per source,
    // the corpus quality-gate pass rate with and without it — the
    // closed-form ranking that decides which source a mixture re-weight
    // cuts first. Metric = the q81 composite gate's keep bit.
    Query("q147_source_ablation", (s, dir) => {
      val gated = TextAnalysis.qualityGate(
        t(s, dir, "documents"), "doc_id", "text", keepInputCols = true)
      graft.operators.Profiling.leaveOneOutMeans(
        gated, "source", col("keep").cast("long"))
        .orderBy("source")
    },
    // LOO ablation: per-source gate-pass sums off the q81 verdict CTEs,
    // closed-form means; delta recomputes the same two divisions and
    // subtracts (identical operands → identical double bits).
    oracle =
      s"""WITH $oGateCtes,
         |per AS (
         |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(CASE WHEN v.reasons = 0 THEN 1 ELSE 0 END) AS BIGINT) AS metric_sum
         |  FROM verdict v JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_rows) AS BIGINT) AS n,
         |         CAST(sum(metric_sum) AS BIGINT) AS s FROM per)
         |SELECT p.source, p.n_rows, p.metric_sum,
         |       CAST(p.metric_sum AS DOUBLE) / CAST(p.n_rows AS DOUBLE) AS mean_in,
         |       CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean_overall,
         |       CASE WHEN t.n > p.n_rows THEN
         |         CAST(t.s - p.metric_sum AS DOUBLE) /
         |         CAST(t.n - p.n_rows AS DOUBLE) END AS mean_without,
         |       CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE) -
         |         (CASE WHEN t.n > p.n_rows THEN
         |            CAST(t.s - p.metric_sum AS DOUBLE) /
         |            CAST(t.n - p.n_rows AS DOUBLE) END) AS delta
         |FROM per p CROSS JOIN tot t ORDER BY p.source""".stripMargin),

    // LM-familiarity curriculum, composed as ONE plan: q87's corpus
    // familiarity → centi-integerized (bounded-cardinality histogram
    // key) → q75's tie-stable quartile buckets → q35's deterministic
    // 25% per-doc hash sample. The curriculum manifest a staged
    // training run reads.
    Query("q148_curriculum_sample", (s, dir) => {
      val fam = graft.operators.NgramLm.familiarity(
        t(s, dir, "documents"), "doc_id", "text", n = 2)
        .filter(col("familiarity").isNotNull)
        .select(col("doc_id"), col("familiarity"),
          floor(col("familiarity") * 100).cast("long").as("fam_centi"))
        .withColumn("__all", lit(1))
      val bucketed = graft.operators.ExactQuantiles.valueNtile(
        fam, "__all", "fam_centi", k = 4)
      Sampling.deterministicSample(bucketed, "doc_id", pct = 25)
        .select(col("doc_id"), col("familiarity"), col("fam_centi"),
          col("fam_centi_bucket").as("bucket"))
        .orderBy("doc_id")
    },
    // Curriculum: q87's familiarity CTEs → floor(×100) integer key →
    // q75's histogram-cumsum bucket rule (k=4, single group) → q35's
    // Knuth-bucket 25% pick.
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
         |         CAST(sum(cnt) AS BIGINT) AS sum_freq
         |  FROM dg JOIN cc USING (gram) GROUP BY 1),
         |fam AS (
         |  SELECT doc_id,
         |         CAST(sum_freq AS DOUBLE) / n_grams AS familiarity,
         |         CAST(floor((CAST(sum_freq AS DOUBLE) / n_grams) * 100)
         |              AS BIGINT) AS fam_centi
         |  FROM st WHERE n_grams > 0),
         |hb AS (SELECT fam_centi AS v, count(*) AS c FROM fam GROUP BY 1),
         |b AS (
         |  SELECT v,
         |         CAST((sum(c) OVER (ORDER BY v) * 4 - 1)
         |              // (sum(c) OVER ()) + 1 AS BIGINT) AS bucket
         |  FROM hb)
         |SELECT f.doc_id, f.familiarity, f.fam_centi, b.bucket
         |FROM fam f JOIN b ON f.fam_centi = b.v
         |WHERE (((f.doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 25
         |ORDER BY f.doc_id""".stripMargin),

    // Flesch-Kincaid readability screen: grade level from exact
    // sentence/word/vowel-run counts — the length-and-density quality
    // signal beside q26's ratios.
    Query("q149_readability", (s, dir) => {
      TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // Readability: the same three counts and the same fixed-order FK
    // arithmetic ((0.39·w/s + 11.8·syl/w) − 15.59).
    oracle =
      s"""SELECT doc_id,
         |       CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
         |            s -> len(trim(s)) > 0)) AS BIGINT) AS n_sentences,
         |       CAST(len($oToks) AS BIGINT) AS n_words,
         |       CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syllables,
         |       CASE WHEN len(list_filter(string_split_regex(text, '[.!?]+'),
         |                    s -> len(trim(s)) > 0)) > 0
         |                 AND len($oToks) > 0 THEN
         |         0.39 * (CAST(len($oToks) AS DOUBLE) /
         |                 CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
         |                      s -> len(trim(s)) > 0)) AS DOUBLE)) +
         |         11.8 * (CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS DOUBLE) /
         |                 CAST(len($oToks) AS DOUBLE)) -
         |         15.59
         |       END AS fk_grade
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Contrastive triplets: q31's embedding near-dup pairs as positives,
    // negatives by bucketed deterministic sampling (pure function of the
    // anchor id) — the (anchor, positive, negative) training rows an
    // embedding model consumes.
    Query("q150_triplets", (s, dir) => {
      val pairs = Dedup.embeddingDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        strideCentroids(s, dir), threshold = 0.3)
      Similarity.contrastiveTriplets(
        pairs, t(s, dir, "embeddings"), "vec_id", buckets = 64)
        .orderBy("anchor", "positive")
    },
    // Triplets: q31's pair CTEs as positives; reps = per-bucket top-2 by
    // (Knuth hash, id); negative = first non-colliding rep.
    oracle =
      s"""WITH $oNorms,
         |$oCells,
         |p AS (
         |  SELECT a.id AS anchor, b.id AS positive
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
         |  JOIN norms na ON na.vec_id = a.id
         |  JOIN norms nb ON nb.vec_id = b.id
         |  WHERE ${oCos("na", "nb")} >= 0.3),
         |rep AS (
         |  SELECT vec_id,
         |         (((vec_id % 2147483648) * 2654435761) % 4294967296) % 64 AS b,
         |         (((vec_id % 2147483648) * 2654435761) % 4294967296) % 1000000 AS h
         |  FROM embeddings),
         |rk AS (
         |  SELECT b, vec_id,
         |         row_number() OVER (PARTITION BY b ORDER BY h, vec_id) AS rk
         |  FROM rep),
         |r1 AS (SELECT b, vec_id AS r1 FROM rk WHERE rk = 1),
         |r2 AS (SELECT b, vec_id AS r2 FROM rk WHERE rk = 2),
         |t AS (
         |  SELECT p.anchor, p.positive,
         |         CASE WHEN r1.r1 <> p.anchor AND r1.r1 <> p.positive THEN r1.r1
         |              WHEN r2.r2 <> p.anchor AND r2.r2 <> p.positive THEN r2.r2
         |         END AS negative
         |  FROM p
         |  LEFT JOIN r1 ON r1.b = (((p.anchor % 2147483648) * 2654435761) % 4294967296) % 64
         |  LEFT JOIN r2 ON r2.b = (((p.anchor % 2147483648) * 2654435761) % 4294967296) % 64)
         |SELECT anchor, positive, negative FROM t
         |WHERE negative IS NOT NULL
         |ORDER BY anchor, positive""".stripMargin),

    // Closed-form KNN-Shapley data valuation (Jia et al. VLDB'19): every
    // training vector's exact Shapley value for a 5-NN classifier over a
    // 10-point labeled probe set — the per-EXAMPLE refinement of q147's
    // per-source leave-one-out. Fixed-point reciprocals (10⁹ div rank)
    // keep the suffix sums integer-exact cross-engine.
    Query("q151_knn_shapley", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Valuation.knnShapley(
        emb.filter(col("vec_id") < 10), emb.filter(col("vec_id") >= 10),
        "vec_id", "embedding", "label", k = 5)
        .orderBy("vec_id")
    },
    // KNN-Shapley: q29's cosine fold ranks train per test; δ_j with
    // 10⁹ div max(j,K) fixed-point reciprocals; s_j = suffix window sum
    // (BIGINT, order-free); mean over the 10 test points.
    oracle =
      s"""WITH $oNorms,
         |lab AS (
         |  SELECT n.vec_id, n.v, n.nrm, e.label
         |  FROM norms n JOIN embeddings e USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |         ${oCos("q", "c")} AS cos,
         |         CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS ind
         |  FROM lab q JOIN lab c ON q.vec_id < 10 AND c.vec_id >= 10),
         |ranked AS (
         |  SELECT qid, nid, ind,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS r
         |  FROM scored),
         |deltas AS (
         |  SELECT qid, nid, r,
         |         (ind - coalesce(lead(ind) OVER (PARTITION BY qid ORDER BY r), 0)) *
         |           (1000000000 // greatest(r, 5)) AS d
         |  FROM ranked),
         |sfx AS (
         |  SELECT qid, nid,
         |         sum(d) OVER (PARTITION BY qid ORDER BY r DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
         |  FROM deltas)
         |SELECT nid AS vec_id, CAST(count(*) AS BIGINT) AS n_tests,
         |       CAST(sum(s) AS BIGINT) AS shap_num,
         |       CAST(sum(s) AS DOUBLE) /
         |         CAST(count(*) * 1000000000 AS DOUBLE) AS shapley
         |FROM sfx GROUP BY 1 ORDER BY 1""".stripMargin),

    // Calendar densification + LOCF gap-fill of per-user daily series —
    // the reference domain's "fill the missing station-days" shape on the
    // events table: one row per (user, day) across each user's span, the
    // last observation carried with its staleness age.
    Query("q152_gapfill_locf", (s, dir) => {
      // layout-independent events read (TIMESTAMP(NANOS) parquet cannot
      // be read as a timestamp — the TableIO.eventsNanos caveat), with
      // the UTC epoch-day date derivation every events query here uses.
      val daily = RelationalQueries.events(s, dir)
        .filter(col("user_id") < 20)
        .groupBy(col("user_id"),
          date_from_unix_date(graft.functions.floorDivLit(col("ts"), 86400000000000L).cast("int"))
            .as("day"))
        .agg(max(col("value")).as("v"))
      graft.operators.Timeseries.densifyLocf(daily, "user_id", "day", "v")
        .orderBy("user_id", "day")
    },
    // Gap-fill: generate_series calendar per user span, LEFT JOIN the
    // daily max, last_value IGNORE NULLS carry + staleness age.
    oracle =
      """WITH daily AS (
        |  SELECT user_id,
        |         DATE '1970-01-01' +
        |           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INTEGER) AS day,
        |         max(value) AS v
        |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS lo, max(day) AS hi
        |         FROM daily GROUP BY 1),
        |cal AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |j AS (
        |  SELECT c.user_id, c.day, d.v
        |  FROM cal c LEFT JOIN daily d
        |    ON c.user_id = d.user_id AND c.day = d.day)
        |SELECT user_id, day, v,
        |       last_value(v IGNORE NULLS) OVER w AS v_filled,
        |       CAST(day - last_value(CASE WHEN v IS NOT NULL THEN day END
        |         IGNORE NULLS) OVER w AS BIGINT) AS days_since_obs
        |FROM j
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),

    // Chi-squared vocabulary selection against the language label — the
    // dimension-pruning pass before training a bag-of-words classifier
    // (q98's family). Rational statistic: exact BIGINT cells, one final
    // division; ties at the top-k boundary break textually.
    Query("q153_chi2_tokens", (s, dir) => {
      graft.operators.FeatureSelect.chiSquaredTokens(
        t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", minDf = 5L, topK = 25)
    },
    // Chi-squared: exact BIGINT 2×2 cells per token (presence, df >= 5),
    // the same left-assoc double tail, top-25 by (chi2 DESC, token).
    oracle =
      s"""WITH lab AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |         list_distinct($oToks) AS tk
         |  FROM documents),
         |tot AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
         |               CAST(sum(1 - y) AS BIGINT) AS n0 FROM lab),
         |cells AS (
         |  SELECT token, CAST(sum(y) AS BIGINT) AS n11,
         |         CAST(sum(1 - y) AS BIGINT) AS n01
         |  FROM (SELECT y, unnest(tk) AS token FROM lab)
         |  GROUP BY 1 HAVING CAST(sum(y) AS BIGINT) + CAST(sum(1 - y) AS BIGINT) >= 5),
         |f AS (
         |  SELECT token, n11, n1 - n11 AS n10, n01, n0 - n01 AS n00,
         |         n1 + n0 AS nn
         |  FROM cells CROSS JOIN tot)
         |SELECT token, n11, n10, n01, n00,
         |       CAST(nn AS DOUBLE) * CAST(n11 * n00 - n10 * n01 AS DOUBLE) *
         |         CAST(n11 * n00 - n10 * n01 AS DOUBLE) /
         |         (CAST(n11 + n01 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE) *
         |          CAST(n11 + n10 AS DOUBLE) * CAST(n01 + n00 AS DOUBLE)) AS chi2
         |FROM f
         |WHERE CAST(n11 + n01 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE) *
         |      CAST(n11 + n10 AS DOUBLE) * CAST(n01 + n00 AS DOUBLE) <> 0
         |ORDER BY chi2 DESC, token LIMIT 25""".stripMargin),

    // Zone-map manifest: per-shard min/max/null/NDV stats of the order
    // date under a month-clustered layout — the file-skipping metadata a
    // lakehouse table keeps, built in one |shards|-row aggregate.
    Query("q154_shard_stats", (s, dir) => {
      val o = t(s, dir, "orders")
      graft.operators.Profiling.shardStats(o,
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long"),
        to_date(col("o_orderdate")))
        .orderBy("shard")
    },
    // Zone-map manifest: month-shard stats of the order date.
    oracle =
      """SELECT year(o_orderdate) * 12 + month(o_orderdate) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null,
        |       min(CAST(o_orderdate AS DATE)) AS min_v,
        |       max(CAST(o_orderdate AS DATE)) AS max_v,
        |       CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS ndv
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Pruning simulation over the q154 manifest: how much of the table a
    // one-month date predicate never reads. The I/O-bound answer file
    // skipping gives at 100 TB — scan cost ∝ shards whose [min,max]
    // intersects the predicate, not table size.
    Query("q155_prune_sim", (s, dir) => {
      val o = t(s, dir, "orders")
      val stats = graft.operators.Profiling.shardStats(o,
        year(col("o_orderdate")) * 12 + month(col("o_orderdate")),
        to_date(col("o_orderdate")))
      graft.operators.Profiling.pruneSimulation(stats,
        lit("1995-03-01").cast("date"), lit("1995-03-31").cast("date"))
    },
    // Prune simulation: shards whose [min,max] misses 1995-03 are
    // skipped; one summary row.
    oracle =
      """WITH st AS (
        |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS shard,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         min(CAST(o_orderdate AS DATE)) AS min_v,
        |         max(CAST(o_orderdate AS DATE)) AS max_v
        |  FROM orders GROUP BY 1),
        |v AS (
        |  SELECT n_rows,
        |         CASE WHEN max_v < DATE '1995-03-01' OR min_v > DATE '1995-03-31'
        |                   OR min_v IS NULL THEN 1 ELSE 0 END AS pruned
        |  FROM st)
        |SELECT CAST(count(*) AS BIGINT) AS n_shards,
        |       CAST(sum(pruned) AS BIGINT) AS n_pruned,
        |       CAST(count(*) - sum(pruned) AS BIGINT) AS n_scanned,
        |       CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END) AS BIGINT)
        |         AS rows_skipped,
        |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |       CAST(sum(CASE WHEN pruned = 1 THEN n_rows ELSE 0 END) AS DOUBLE) /
        |         CAST(sum(n_rows) AS DOUBLE) AS skip_ratio
        |FROM v""".stripMargin),

    // Incremental aggregate maintenance: a signed changelog (deletes of
    // every 5th base order, inserts of the held-out keys) applied to a
    // materialized per-priority (count, cents-sum) aggregate. The oracle
    // recomputes from scratch over the post-delta state — gating that
    // delta maintenance ≡ recompute while touching only |delta| rows.
    Query("q156_incr_agg", (s, dir) => {
      val orders = t(s, dir, "orders")
      def cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val base = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      val oldAgg = base.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(cents).as("sv"))
      val delta = base.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("sign", lit(-1L))
        .unionByName(orders.filter(pmod(col("o_orderkey"), lit(7)) === 0)
          .withColumn("sign", lit(1L)))
      graft.operators.Merge.applyAggDelta(oldAgg, delta,
        Seq("o_orderpriority"), col("sign"), Seq("sv" -> cents))
        .orderBy("o_orderpriority")
    },
    // Incremental agg ≡ recompute over base ∖ deletes ∪ inserts.
    oracle =
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |         AS BIGINT) AS sv
        |FROM orders
        |WHERE (o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0)
        |   OR o_orderkey % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Retrieval-eval MRR over q29's exact top-10 with same-label
    // relevance — fixed-point reciprocal ranks (10⁹ div r), so the mean
    // is an exact integer sum with one final division.
    Query("q157_mrr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(queriesSubset(s, dir), emb,
        "vec_id", "embedding", k = 10)
        .join(emb.select(col("vec_id").as("qid"), col("label").as("__ql")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("label").as("__nl")), "nid")
      Similarity.mrrFixedPoint(ranked, "qid", "rank",
        col("__ql") === col("__nl"))
    },
    // MRR: q29's top-10 CTEs + labels; first same-label rank per query,
    // 10⁹ div r fixed point, no-hit queries contribute 0.
    oracle =
      s"""WITH $oNorms,
         |lab AS (
         |  SELECT n.vec_id, n.v, n.nrm, e.label
         |  FROM norms n JOIN embeddings e USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS nid,
         |         c.label AS nl, ${oCos("q", "c")} AS cos
         |  FROM lab q JOIN lab c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, ql, nl,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored),
         |firsts AS (
         |  SELECT qid, min(CASE WHEN ql = nl THEN rank END) AS f
         |  FROM ranked WHERE rank <= 10 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |       CAST(sum(coalesce(1000000000 // f, 0)) AS BIGINT) AS mrr_num,
         |       CAST(sum(coalesce(1000000000 // f, 0)) AS DOUBLE) /
         |         CAST(count(*) * 1000000000 AS DOUBLE) AS mrr
         |FROM firsts""".stripMargin),

    // Per-dimension embedding distribution stats — the embedding-QA /
    // whitening-prep table (dead dims, scale drift, mean/std pairs).
    // Power-of-2 fixed-point sums (floor(v·2²⁰) — float·2²⁰ is EXACT in
    // double) make the aggregate order-free BIGINT arithmetic.
    Query("q158_embed_dim_stats", (s, dir) => {
      graft.operators.EmbeddingStats.dimensionStats(
        t(s, dir, "embeddings"), "embedding")
    },
    // Per-dimension stats: floor(v·2²⁰)/floor(v²·2²⁰) exact BIGINT sums,
    // the same mirrored double tail as the engine.
    oracle =
      """WITH ev AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |px AS (
        |  SELECT t.i AS dim, v[t.i + 1] AS x FROM ev, range(64) t(i)),
        |fx AS (
        |  SELECT dim, CAST(floor(x * 1048576) AS BIGINT) AS f,
        |         CAST(floor(x * x * 1048576) AS BIGINT) AS f2
        |  FROM px),
        |agg AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(f) AS BIGINT) AS sum_fixed,
        |         CAST(sum(f2) AS BIGINT) AS sumsq_fixed
        |  FROM fx GROUP BY 1)
        |SELECT dim, n, sum_fixed, sumsq_fixed,
        |       CAST(sum_fixed AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS mean,
        |       greatest(0.0,
        |         (CAST(n AS DOUBLE) * CAST(sumsq_fixed AS DOUBLE) -
        |          CAST(sum_fixed AS DOUBLE) * CAST(sum_fixed AS DOUBLE) / 1048576) /
        |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1048576)) AS variance,
        |       sqrt(greatest(0.0,
        |         (CAST(n AS DOUBLE) * CAST(sumsq_fixed AS DOUBLE) -
        |          CAST(sum_fixed AS DOUBLE) * CAST(sum_fixed AS DOUBLE) / 1048576) /
        |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1048576))) AS std
        |FROM agg ORDER BY dim""".stripMargin),

    // Cohen's kappa between the q27 language-ID heuristic and the
    // labeled lang — chance-corrected annotator agreement in rational
    // form (exact BIGINT contingency terms, one division).
    Query("q159_kappa", (s, dir) => {
      graft.operators.Supervision.cohenKappa(t(s, dir, "documents"),
        TextAnalysis.langId(col("text")), col("lang"))
    },
    // Kappa: q27's pred CTE → contingency cells → rational closed form.
    oracle =
      s"""WITH $oLangIdCtes,
         |cells AS (
         |  SELECT predicted AS a, lang AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM pred WHERE predicted IS NOT NULL AND lang IS NOT NULL
         |  GROUP BY 1, 2),
         |rs AS (SELECT a AS k, CAST(sum(c) AS BIGINT) AS ra FROM cells GROUP BY 1),
         |cs AS (SELECT b AS k, CAST(sum(c) AS BIGINT) AS rb FROM cells GROUP BY 1),
         |e AS (
         |  SELECT coalesce(CAST(sum(ra * rb) AS BIGINT), 0) AS expected_num
         |  FROM rs JOIN cs USING (k)),
         |a AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |         coalesce(CAST(sum(CASE WHEN a = b THEN c END) AS BIGINT), 0) AS agree
         |  FROM cells)
         |SELECT n, agree, expected_num,
         |       CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |       CASE WHEN n * n <> expected_num THEN
         |         CAST(n * agree - expected_num AS DOUBLE) /
         |         CAST(n * n - expected_num AS DOUBLE) END AS kappa
         |FROM a CROSS JOIN e""".stripMargin),

    // Skip-gram co-occurrence tensor (±2 window): the word2vec/GloVe
    // training-pair counts. Probe-offset equi-join — fan-out hard-capped
    // at 2·window per token, never the L² of a doc-keyed self-join.
    Query("q160_skipgram", (s, dir) => {
      graft.operators.Cooccur.skipgramPairs(t(s, dir, "documents"),
        "doc_id", "text", window = 2, minCount = 5L, topK = 50)
    },
    // Skip-gram: positional tokens via range lateral, ±2 band, both
    // directions, count floor, deterministic top-50.
    oracle =
      s"""WITH toksl AS (SELECT doc_id, $oToks AS tk FROM documents),
         |toku AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |    i -> struct_pack(pos := i, w := tk[i]))) AS s
         |  FROM toksl),
         |tok AS (SELECT doc_id, s.pos AS pos, s.w AS w FROM toku),
         |fwd AS (
         |  SELECT a.w AS lw, b.w AS rw
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
         |    AND b.pos > a.pos AND b.pos <= a.pos + 2),
         |dir AS (
         |  SELECT lw AS center, rw AS context FROM fwd
         |  UNION ALL
         |  SELECT rw AS center, lw AS context FROM fwd)
         |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
         |FROM dir GROUP BY 1, 2 HAVING count(*) >= 5
         |ORDER BY cnt DESC, center, context LIMIT 50""".stripMargin),

    // Exact per-group Pearson correlation (quantity vs price-in-k$) from
    // BIGINT sufficient statistics — corr()'s float-moment accumulation
    // is partition-order-dependent and can't face a hash gate.
    Query("q161_corr", (s, dir) => {
      graft.operators.Regression.corrByGroup(t(s, dir, "lineitem"),
        Seq("l_returnflag"),
        floor(col("l_quantity") + 0.5).cast("long"),
        floor(col("l_extendedprice") / 1000 + 0.5).cast("long"))
        .orderBy("l_returnflag")
    },
    // Pearson from exact BIGINT sufficient stats, mirrored closed form.
    oracle =
      """WITH v AS (
        |  SELECT l_returnflag,
        |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice / 1000 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM v GROUP BY 1)
        |SELECT l_returnflag, n,
        |       CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
        |         CAST(n * sxy - sx * sy AS DOUBLE) /
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |              CAST(n * syy - sy * sy AS DOUBLE)) END AS corr
        |FROM st ORDER BY l_returnflag""".stripMargin),

    // Spearman rank correlation (quantity vs discount-cents, heavy
    // ties) over a 5% deterministic order-key sample — rank2 ≤ 2n keeps
    // the BIGINT sums exact per the operator's documented n-bound, and
    // rank correlation stabilizes at sample sizes far below it.
    Query("q162_spearman", (s, dir) => {
      val sampled = Sampling.deterministicSample(
        t(s, dir, "lineitem"), "l_orderkey", pct = 5)
      graft.operators.Regression.spearmanByGroup(sampled,
        Seq("l_returnflag"),
        floor(col("l_quantity") + 0.5).cast("long"),
        floor(col("l_discount") * 100 + 0.5).cast("long"))
        .orderBy("l_returnflag")
    },
    // Spearman: histogram-cumsum doubled average ranks (2·cum − cnt + 1)
    // joined back per value, then the q161 closed form over ranks.
    oracle =
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE (((l_orderkey % 2147483648) * 2654435761) % 4294967296) % 100 < 5
        |    AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |hx AS (
        |  SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |rx AS (
        |  SELECT g, x,
        |         2 * sum(c) OVER (PARTITION BY g ORDER BY x) - c + 1 AS rx
        |  FROM hx),
        |hy AS (
        |  SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |ry AS (
        |  SELECT g, y,
        |         2 * sum(c) OVER (PARTITION BY g ORDER BY y) - c + 1 AS ry
        |  FROM hy),
        |rk AS (
        |  SELECT b.g, CAST(rx.rx AS BIGINT) AS x, CAST(ry.ry AS BIGINT) AS y
        |  FROM base b JOIN rx ON b.g = rx.g AND b.x = rx.x
        |              JOIN ry ON b.g = ry.g AND b.y = ry.y),
        |st AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM rk GROUP BY 1)
        |SELECT g AS l_returnflag, n,
        |       CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
        |         CAST(n * sxy - sx * sy AS DOUBLE) /
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |              CAST(n * syy - sy * sy AS DOUBLE)) END AS spearman
        |FROM st ORDER BY l_returnflag""".stripMargin),

    // Cross-source quantile normalization of document length onto the
    // src0 reference distribution — the batch-effect corrector that
    // makes one threshold mean the same thing corpus-wide. Mapping rule
    // is cross-multiplied BIGINTs (no division, no float).
    Query("q163_quantile_norm", (s, dir) => {
      graft.operators.QuantileNormalize.toReference(
        t(s, dir, "documents"), "source", col("n_chars"), "src0")
        .orderBy("source", "v")
    },
    // Quantile normalization: per-source histograms + doubled mid-ranks,
    // reference lookup by cross-multiplied cumulative shares, min
    // qualifying reference value.
    oracle =
      """WITH base AS (
        |  SELECT source, n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
        |hist AS (
        |  SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM base GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source, v, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v)
        |           AS BIGINT) AS cum
        |  FROM hist),
        |r2 AS (
        |  SELECT source, v, cnt, cum,
        |         CAST(2 * cum - cnt + 1 AS BIGINT) AS rank2 FROM ranked),
        |tot AS (
        |  SELECT source, CAST(max(cum) AS BIGINT) AS n_src
        |  FROM ranked GROUP BY 1),
        |rh AS (
        |  SELECT v AS rv, CAST(2 * cum AS BIGINT) AS rcum2
        |  FROM ranked WHERE source = 'src0'),
        |rt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ref
        |  FROM base WHERE source = 'src0')
        |SELECT r.source, r.v, r.cnt AS n_rows, r.rank2, min(rh.rv) AS mapped
        |FROM r2 r JOIN tot USING (source) CROSS JOIN rt
        |LEFT JOIN rh ON rh.rcum2 * tot.n_src >= r.rank2 * rt.n_ref
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin),

    // Luhn checksum audit over a 16-digit account-identifier column
    // (zero-padded order keys): the mod-10 validity gate card-number
    // PII detection applies before treating a digit run as sensitive
    // (~10% of arbitrary identifiers pass). Row-local integer fold.
    Query("q164_luhn_audit", (s, dir) => {
      val acct = lpad(col("o_orderkey").cast("string"), 16, "0")
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          graft.operators.Privacy.luhnValid(acct).as("__v"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          count(when(col("__v"), 1L)).as("n_luhn_valid"))
        .orderBy("o_orderpriority")
    },
    // Luhn: same reversed-string mod-10 fold over the padded key.
    oracle =
      """WITH c AS (
        |  SELECT o_orderpriority,
        |         reverse(lpad(CAST(o_orderkey AS VARCHAR), 16, '0')) AS r
        |  FROM orders),
        |v AS (
        |  SELECT o_orderpriority,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, len(r) + 1),
        |             i -> CAST(CASE WHEN i % 2 = 1 THEN ascii(r[i]) - 48
        |                  WHEN (ascii(r[i]) - 48) * 2 > 9
        |                    THEN (ascii(r[i]) - 48) * 2 - 9
        |                  ELSE (ascii(r[i]) - 48) * 2 END AS BIGINT))),
        |           (a, b) -> a + b) % 10 = 0 AS ok
        |  FROM c)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_luhn_valid
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),

    // Interval-union coverage: per-user merged activity windows (event
    // second → event second + 60 + ⌊|value|⌋), the dwell-time sweep that
    // naive duration sums double-count. One window pass per key, no
    // overlap self-join; integer seconds end to end.
    Query("q165_interval_union", (s, dir) => {
      val secs = graft.functions.floorDivLit(col("ts"), 1000000000L)
      graft.operators.EventAnalytics.intervalCoverage(
        RelationalQueries.events(s, dir), "user_id",
        secs, secs + lit(60L) + floor(abs(col("value"))).cast("long"))
        .orderBy("user_id")
    },
    // Interval union: the same sweep — running max of prior ends flags
    // new segments, running flag-sum numbers them, per-segment min/max
    // close the merge.
    oracle =
      """WITH iv AS (
        |  SELECT user_id, ((epoch_ns(ts) - (((epoch_ns(ts) % 1000000000) + 1000000000) % 1000000000)) // 1000000000) AS s,
        |         ((epoch_ns(ts) - (((epoch_ns(ts) % 1000000000) + 1000000000) % 1000000000)) // 1000000000) + 60 +
        |           CAST(floor(abs(value)) AS BIGINT) AS e
        |  FROM events),
        |f AS (
        |  SELECT * FROM iv
        |  WHERE s IS NOT NULL AND e IS NOT NULL AND e > s),
        |m AS (
        |  SELECT user_id, s, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM f),
        |g AS (
        |  SELECT user_id, s, e,
        |         CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY s, e
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS seg
        |  FROM m),
        |sg AS (
        |  SELECT user_id, seg, CAST(count(*) AS BIGINT) AS n,
        |         min(s) AS ss, max(e) AS se
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        |       CAST(count(*) AS BIGINT) AS n_segments,
        |       CAST(sum(se - ss) AS BIGINT) AS covered,
        |       CAST(max(se) - min(ss) AS BIGINT) AS span
        |FROM sg GROUP BY 1 ORDER BY 1""".stripMargin),

    // Release-audit pipeline, composed as ONE plan: q81's quality gate →
    // q140's TVD drift of the SURVIVING corpus's source mix against the
    // full corpus → a one-row release verdict (counts, keep rate, mix
    // drift, boolean gate). The "should this snapshot ship" check a
    // release pipeline runs after filtering — a gate that silently
    // guts one source shows up as TVD before it ships.
    Query("q166_release_audit", (s, dir) => {
      val gated = graft.operators.CacheScope.track(
        TextAnalysis.qualityGate(t(s, dir, "documents"), "doc_id", "text",
          keepInputCols = true))
      val tagged = gated.select(col("source"), lit(true).as("__ref"))
        .unionAll(gated.filter(col("keep"))
          .select(col("source"), lit(false).as("__ref")))
      val tvd = graft.operators.Profiling
        .distributionDrift(tagged, "source", col("__ref"))
        .agg(min(col("tvd")).as("tvd")) // constant across rows
      val counts = gated.agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1L)).as("n_kept"))
      counts.crossJoin(tvd).select(
        col("n_docs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"),
        col("tvd"),
        (col("tvd") <= 0.05 &&
          col("n_kept").cast("double") / col("n_docs").cast("double") >= 0.25)
          .as("release_ok"))
    },
    // Release audit: gate CTEs → per-source (all, kept) histogram →
    // q140's exact-numerator TVD → one verdict row.
    oracle =
      s"""WITH $oGateCtes,
         |k AS (
         |  SELECT d.source,
         |         CASE WHEN v.reasons = 0 THEN 1 ELSE 0 END AS kept
         |  FROM verdict v JOIN documents d USING (doc_id)),
         |hist AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_ref,
         |         CAST(sum(kept) AS BIGINT) AS n_batch
         |  FROM k GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_ref) AS BIGINT) AS n,
         |         CAST(sum(n_batch) AS BIGINT) AS m FROM hist),
         |tv AS (
         |  SELECT CASE WHEN min(t.n) > 0 AND min(t.m) > 0 THEN
         |           CAST(sum(abs(CAST(h.n_ref AS HUGEINT) * t.m -
         |                        CAST(h.n_batch AS HUGEINT) * t.n)) AS DOUBLE) /
         |             (2.0 * CAST(min(t.n) AS DOUBLE) * CAST(min(t.m) AS DOUBLE))
         |         END AS tvd
         |  FROM hist h CROSS JOIN tot t)
         |SELECT t.n AS n_docs, t.m AS n_kept,
         |       CAST(t.m AS DOUBLE) / CAST(t.n AS DOUBLE) AS keep_rate,
         |       tv.tvd,
         |       (tv.tvd <= 0.05 AND
         |        CAST(t.m AS DOUBLE) / CAST(t.n AS DOUBLE) >= 0.25) AS release_ok
         |FROM tot t CROSS JOIN tv""".stripMargin),

    // Per-query nDCG@10 over q157's exact top-10 with same-label
    // relevance — position-weighted eval with plan-literal fixed-point
    // discounts (log2 runs once on the driver, never in an engine).
    Query("q167_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity.bruteForceTopK(queriesSubset(s, dir), emb,
        "vec_id", "embedding", k = 10)
        .join(emb.select(col("vec_id").as("qid"), col("label").as("__ql")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("label").as("__nl")), "nid")
      Similarity.ndcgFixedPoint(ranked, "qid", "rank",
        col("__ql") === col("__nl"), k = 10)
        .orderBy("qid")
    },
    // nDCG: q157's ranked CTEs; the SAME driver-computed discount
    // literals ride in this SQL text, so neither engine evaluates log2.
    oracle = {
      val dLit = s"[${Similarity.ndcgDiscounts(10).mkString(", ")}]"
      s"""WITH $oNorms,
         |lab AS (
         |  SELECT n.vec_id, n.v, n.nrm, e.label
         |  FROM norms n JOIN embeddings e USING (vec_id)),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS ql, c.vec_id AS nid,
         |         c.label AS nl, ${oCos("q", "c")} AS cos
         |  FROM lab q JOIN lab c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT qid, ql, nl,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored),
         |g AS (
         |  SELECT qid, rank,
         |         CASE WHEN ql = nl THEN 1 ELSE 0 END AS g
         |  FROM ranked WHERE rank <= 10),
         |ir AS (
         |  SELECT qid, rank, g,
         |         row_number() OVER (PARTITION BY qid ORDER BY g DESC, rank) AS ir
         |  FROM g)
         |SELECT qid, CAST(sum(g) AS BIGINT) AS n_rel,
         |       CAST(sum(g * ($dLit)[CAST(rank AS INTEGER)]) AS BIGINT) AS dcg_num,
         |       CAST(sum(g * ($dLit)[CAST(ir AS INTEGER)]) AS BIGINT) AS idcg_num,
         |       CASE WHEN CAST(sum(g * ($dLit)[CAST(ir AS INTEGER)]) AS BIGINT) > 0
         |            THEN CAST(sum(g * ($dLit)[CAST(rank AS INTEGER)]) AS DOUBLE) /
         |                 CAST(sum(g * ($dLit)[CAST(ir AS INTEGER)]) AS DOUBLE)
         |       END AS ndcg_at_10
         |FROM ir GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // Leakage-safe train/val/test split: near-dup CLUSTERS (q70's wide
    // tier → CC) are the split unit, so a doc and its near-duplicate can
    // never straddle train/test — the contamination q99's per-doc hash
    // split cannot rule out. One-row audit: the naive (doc-keyed) split's
    // crossing-pair count vs the cluster-keyed split's (0 by
    // construction — split is a function of the component id).
    Query("q168_leakage_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.CacheScope.track(
        Dedup.simhashPairsWide(docs, "doc_id", "text", maxHamming = 2))
      // labels only — dedupClusters' size/canonical columns are unused
      // here, so skip its sizes aggregate + join
      val comps = graft.operators.Components
        .connectedComponents(pairs, "i", "j")
      val labeled = docs.select(col("doc_id"))
        .join(comps, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val sp = Sampling.hashSplit(
        Sampling.hashSplit(labeled, "doc_id", 80, 10, "naive_split"),
        "component", 80, 10, "safe_split")
        .select(col("doc_id"), col("naive_split"), col("safe_split"))
      val sizes = sp.agg(count(lit(1)).as("n_docs"),
        count(when(col("safe_split") === "train", 1L)).as("safe_train"),
        count(when(col("safe_split") === "val", 1L)).as("safe_val"),
        count(when(col("safe_split") === "test", 1L)).as("safe_test"))
      val crossing = pairs
        .join(sp.select(col("doc_id").as("i"), col("naive_split").as("ni"),
          col("safe_split").as("si")), "i")
        .join(sp.select(col("doc_id").as("j"), col("naive_split").as("nj"),
          col("safe_split").as("sj")), "j")
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("ni") =!= col("nj"), 1L)).as("naive_cross"),
          count(when(col("si") =!= col("sj"), 1L)).as("safe_cross"))
      sizes.crossJoin(crossing)
    },
    // q70's wide-signature + recursive-CC chain, then q99's Knuth-bucket
    // split arithmetic keyed once by doc_id (naive) and once by the CC
    // component (safe); crossing pairs counted over the same pair set.
    oracle =
      s"""WITH RECURSIVE ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 2)},
         |${oFloodCtes("doc_id", "documents")},
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
         |              WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS naive_split,
         |         CASE WHEN (((component % 2147483648) * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
         |              WHEN (((component % 2147483648) * 2654435761) % 4294967296) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS safe_split
         |  FROM lab),
         |sizes AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(CASE WHEN safe_split = 'train' THEN 1 END) AS BIGINT) AS safe_train,
         |         CAST(count(CASE WHEN safe_split = 'val' THEN 1 END) AS BIGINT) AS safe_val,
         |         CAST(count(CASE WHEN safe_split = 'test' THEN 1 END) AS BIGINT) AS safe_test
         |  FROM sp),
         |pc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(count(CASE WHEN a.naive_split <> b.naive_split THEN 1 END) AS BIGINT) AS naive_cross,
         |         CAST(count(CASE WHEN a.safe_split <> b.safe_split THEN 1 END) AS BIGINT) AS safe_cross
         |  FROM pairs p JOIN sp a ON a.doc_id = p.i JOIN sp b ON b.doc_id = p.j)
         |SELECT * FROM sizes CROSS JOIN pc""".stripMargin),

    // Exact ROC-AUC of the gate-distilled classifier (q102's model)
    // against the gate's own labels — the ranking-quality number a
    // curation team reads next to q102's confusion matrix. Integer-exact
    // Mann-Whitney with midrank ties over the fixed-point score
    // histogram; one division at the end.
    Query("q169_auc", (s, dir) =>
      graft.operators.Evaluation.aucExact(distillScored(s, dir), "zq", "keep"),
    // Midrank Mann-Whitney over the fixed-point score histogram —
    // doubled rank-sum terms stay integer; one division at the end.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |hist AS (
         |  SELECT zq AS s, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM scored GROUP BY 1),
         |cum AS (
         |  SELECT s, c, p, sum(c) OVER (ORDER BY s) AS cum FROM hist),
         |a AS (
         |  SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |         CAST(sum(c - p) AS BIGINT) AS n_neg,
         |         CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS r2
         |  FROM cum)
         |SELECT n_pos, n_neg,
         |       r2 - n_pos * (n_pos + 1) AS auc_num,
         |       2 * n_pos * n_neg AS auc_den,
         |       CASE WHEN n_pos > 0 AND n_neg > 0
         |            THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |                 CAST(2 * n_pos * n_neg AS DOUBLE)
         |       END AS auc
         |FROM a""".stripMargin),

    // Precision/recall operating-point sweep for the same distilled
    // scores: one row per distinct quantized threshold, exact BIGINT
    // confusion counts — how a release picks its precision floor without
    // re-scoring the corpus per candidate threshold.
    Query("q170_pr_curve", (s, dir) =>
      graft.operators.Evaluation.prCurve(distillScored(s, dir), "zq", "keep")
        .orderBy(desc("threshold")),
    // Descending cumulative TP/FP over the same histogram; precision =
    // tp/(tp+fp), recall = tp/P, each one division.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |hist AS (
         |  SELECT zq AS threshold, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM scored GROUP BY 1),
         |cum AS (
         |  SELECT threshold,
         |         CAST(sum(p) OVER (ORDER BY threshold DESC) AS BIGINT) AS tp,
         |         CAST(sum(c - p) OVER (ORDER BY threshold DESC) AS BIGINT) AS fp,
         |         CAST(sum(p) OVER () AS BIGINT) AS pall
         |  FROM hist)
         |SELECT threshold, tp, fp, pall - tp AS fn,
         |       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
         |       CASE WHEN pall > 0
         |            THEN CAST(tp AS DOUBLE) / CAST(pall AS DOUBLE) END AS recall
         |FROM cum ORDER BY threshold DESC""".stripMargin),

    // Trigram novelty per doc: fraction of its distinct shingles with
    // corpus df = 1 — the memorization/boilerplate audit. Singleton
    // shingles carry their only doc id out of the df aggregate, so no
    // df-table join back onto the corpus-sized shingle stream.
    Query("q171_ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text",
        n = 3).orderBy("doc_id"),
    // q23's shingle CTE shape (trigrams); singleton shingles keep their
    // only doc id, no join back onto the shingle stream.
    oracle =
      s"""WITH toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(tk) - 1),
         |      i -> list_aggregate(tk[i:i+2], 'string_agg', ' ')))) AS s
         |  FROM toks),
         |sizes AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |  FROM sh GROUP BY 1),
         |novel AS (
         |  SELECT doc1 AS doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM (
         |    SELECT s, count(*) AS df, min(doc_id) AS doc1 FROM sh GROUP BY s)
         |  WHERE df = 1 GROUP BY 1)
         |SELECT s.doc_id, s.n_shingles,
         |       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
         |       CAST(COALESCE(n.n_novel, 0) AS DOUBLE) /
         |         CAST(s.n_shingles AS DOUBLE) AS novelty
         |FROM sizes s LEFT JOIN novel n USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // Blocklist scan: per-doc hit counts + sorted categories against a
    // driver-literal (term -> category) policy list; broadcast join, so
    // only matching tokens reach the shuffle.
    Query("q172_blocklist", (s, dir) =>
      // categories flattened to a sorted CSV string — the driver's
      // pandas checker cannot sort ARRAY<STRING> columns (round-9 burn).
      TextAnalysis.blocklistHits(t(s, dir, "documents"), "doc_id", "text",
        Seq("slow" -> "perf", "merge" -> "infra", "stream" -> "infra",
          "vector" -> "ml", "customer" -> "pii"))
        .withColumn("categories", array_join(col("categories"), ","))
        .orderBy("doc_id"),
    // The same literal policy list as the engine query; only docs with
    // >= 1 hit appear.
    oracle =
      s"""WITH bl(term, cat) AS (VALUES
         |  ('slow','perf'), ('merge','infra'), ('stream','infra'),
         |  ('vector','ml'), ('customer','pii')),
         |tok AS (SELECT doc_id, unnest($oToks) AS term FROM documents),
         |h AS (SELECT doc_id, t.term, cat FROM tok t JOIN bl USING (term))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
         |       array_to_string(list_sort(list_distinct(list(cat))), ',')
         |         AS categories
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Pearson chi-squared homogeneity cells for lang-mix-per-source —
    // exact BIGINT margins and d = o*N - rt*ct per cell (zero cells
    // included), one division per row; the statistic is the sum of the
    // returned contribs.
    Query("q173_chi2_homogeneity", (s, dir) =>
      graft.operators.Profiling.chiSquaredCells(t(s, dir, "documents"),
        "source", "lang").orderBy("source", "lang"),
    // Margin cross product keeps observed-zero cells; d and contrib
    // mirror chiSquaredCells' fixed arithmetic order.
    oracle =
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |fl AS (
        |  SELECT r.source, c.lang, CAST(COALESCE(cl.o, 0) AS BIGINT) AS o,
        |         r.rt, c.ct, nn.n
        |  FROM rt r CROSS JOIN nn CROSS JOIN ct c
        |  LEFT JOIN cells cl ON cl.source = r.source AND cl.lang = c.lang),
        |fd AS (
        |  SELECT source, lang, o, rt, ct, n, o * n - rt * ct AS d FROM fl)
        |SELECT source, lang, o, rt, ct, n, d,
        |       (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
        |         AS contrib
        |FROM fd ORDER BY source, lang""".stripMargin),

    // Simplified (centroid-based) silhouette per IVF cell: per-point
    // s = (c1 - c2)/(1 - c2) from the top-2 centroid cosines, quantized
    // to fixed point so the per-cell mean is an exact integer sum. The
    // clustering-quality gate for the q30/q37/q78 cell structure.
    Query("q174_silhouette", (s, dir) =>
      Similarity.silhouetteByCell(t(s, dir, "embeddings"), "vec_id",
        "embedding", strideCentroids(s, dir)).orderBy("cell"),
    // q37's centroid CTEs; top-2 cosines via row_number (cos DESC, cid
    // ASC ties — the engine's sort_array order), fixed-point quantize,
    // exact integer cell sums.
    oracle =
      s"""WITH $oNorms,
         |centroids AS (
         |  SELECT vec_id // 25 AS cid, v, nrm FROM norms WHERE vec_id % 25 = 0),
         |pc AS (
         |  SELECT e.vec_id AS id, c.cid, ${oCos("e", "c")} AS cos,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${oCos("e", "c")} DESC, c.cid) AS rn
         |  FROM norms e CROSS JOIN centroids c),
         |top AS (
         |  SELECT a.id, a.cid AS cell, a.cos AS c1, b.cos AS c2
         |  FROM pc a JOIN pc b ON a.id = b.id AND a.rn = 1 AND b.rn = 2),
         |sil AS (
         |  SELECT cell,
         |         CAST(floor(((c1 - c2) / (CAST(1.0 AS DOUBLE) - c2)) *
         |           CAST(1048576 AS DOUBLE)) AS BIGINT) AS sq
         |  FROM top WHERE c2 < CAST(1.0 AS DOUBLE))
         |SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(sq) AS BIGINT) AS sil_sum_fp,
         |       CAST(sum(sq) AS DOUBLE) /
         |         (CAST(count(*) AS DOUBLE) * CAST(1048576 AS DOUBLE)) AS mean_sil
         |FROM sil GROUP BY cell ORDER BY cell""".stripMargin),

    // Most-specific-match policy lookup over events: per-(type, bucket)
    // overrides > per-type rules > global default, as a chain of
    // broadcast hash joins + coalesce (no BroadcastNestedLoop, no
    // per-fact argmax). Output: events per winning rule and level.
    Query("q175_rule_lookup", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .withColumn("ub", Sampling.hashBucket(col("user_id"), 4))
      val rules = Seq(
        (Option("click"), Option(0L), "r_click_b0"),
        (Option("purchase"), Option(1L), "r_purch_b1"),
        (Option("click"), Option.empty[Long], "r_click"),
        (Option("purchase"), Option.empty[Long], "r_purchase"),
        (Option("view"), Option.empty[Long], "r_view"),
        (Option.empty[String], Option.empty[Long], "r_default"))
        .toDF("event_type", "ub", "rule")
      graft.operators.Lookup.mostSpecificLookup(ev, rules,
        Seq("event_type", "ub"), "rule")
        .groupBy("matched", "match_level").agg(count(lit(1)).as("cnt"))
        .orderBy("matched")
    },
    // The engine's level chain as literal CASE rules: (type, bucket)
    // overrides, then per-type, then the default; level = mask popcount.
    oracle =
      """WITH b AS (
        |  SELECT event_type,
        |         (((user_id % 2147483648) * 2654435761) % 4294967296) % 4 AS ub
        |  FROM events),
        |m AS (
        |  SELECT COALESCE(
        |           CASE WHEN event_type = 'click' AND ub = 0 THEN 'r_click_b0'
        |                WHEN event_type = 'purchase' AND ub = 1 THEN 'r_purch_b1' END,
        |           CASE WHEN event_type = 'click' THEN 'r_click'
        |                WHEN event_type = 'purchase' THEN 'r_purchase'
        |                WHEN event_type = 'view' THEN 'r_view' END,
        |           'r_default') AS matched,
        |         CASE WHEN (event_type = 'click' AND ub = 0)
        |                OR (event_type = 'purchase' AND ub = 1) THEN 2
        |              WHEN event_type IN ('click', 'purchase', 'view') THEN 1
        |              ELSE 0 END AS match_level
        |  FROM b)
        |SELECT matched, match_level, CAST(count(*) AS BIGINT) AS cnt
        |FROM m GROUP BY 1, 2 ORDER BY matched""".stripMargin),

    // Merkle manifest over 16 hash shards of the documents table: q67's
    // checksum per shard as leaves, hashed pairwise to a root — the
    // publish artifact that lets a consumer verify any shard against the
    // root in log(shards) digest compares.
    // level_xor (round 13, the q290/q291 derived-oracle direction): a
    // second content-derived reduction per level — bit_xor of the
    // level's digests — that the oracle re-computes from ITS digest
    // chain, so a single wrong node digest breaks two columns, not one.
    Query("q176_merkle_manifest", (s, dir) =>
      graft.operators.Profiling.merkleManifest(t(s, dir, "documents"),
        Sampling.hashBucket(col("doc_id"), 16), 16,
        col("doc_id"), col("lang"), col("source"), col("text"))
        .withColumn("level_xor", expr("bit_xor(digest)").over(
          org.apache.spark.sql.expressions.Window.partitionBy("level")))
        .orderBy("level", "idx"),
    // Unrolled 4-level tree over the 16 shard leaves; every digest is
    // polyHash(md5(...)) exactly like the engine's chain.
    oracle = {
      def pair(prev: String) = oPolyHash(
        "md5(concat_ws('|', " +
          "CAST(max(CASE WHEN idx % 2 = 0 THEN digest END) AS VARCHAR), " +
          "CAST(max(CASE WHEN idx % 2 = 1 THEN digest END) AS VARCHAR)))")
      def lv(k: Int) =
        s"""lv$k AS (
           |  SELECT CAST(idx // 2 AS BIGINT) AS idx,
           |         CAST(sum(n_rows) AS BIGINT) AS n_rows,
           |         ${pair(s"lv${k - 1}")} AS digest
           |  FROM lv${k - 1} GROUP BY 1)""".stripMargin
      s"""WITH leaves AS (
         |  SELECT (((doc_id % 2147483648) * 2654435761) % 4294967296) % 16 AS idx,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(${oPolyHash(
                     "md5(concat_ws(chr(1), doc_id, lang, source, text))")})
         |           % 1000000000000000 AS BIGINT) AS cmod
         |  FROM documents GROUP BY 1),
         |lv0 AS (
         |  SELECT r.idx, CAST(COALESCE(l.n_rows, 0) AS BIGINT) AS n_rows,
         |         ${oPolyHash("md5(CAST(COALESCE(l.cmod, 0) AS VARCHAR))")} AS digest
         |  FROM range(0, 16) r(idx) LEFT JOIN leaves l USING (idx)),
         |${lv(1)},
         |${lv(2)},
         |${lv(3)},
         |${lv(4)},
         |m AS (
         |  SELECT 0 AS level, idx, n_rows, digest FROM lv0
         |  UNION ALL SELECT 1, idx, n_rows, digest FROM lv1
         |  UNION ALL SELECT 2, idx, n_rows, digest FROM lv2
         |  UNION ALL SELECT 3, idx, n_rows, digest FROM lv3
         |  UNION ALL SELECT 4, idx, n_rows, digest FROM lv4)
         |SELECT level, idx, n_rows, digest,
         |  CAST(bit_xor(digest) OVER (PARTITION BY level) AS BIGINT)
         |    AS level_xor
         |FROM m ORDER BY level, idx""".stripMargin
    }),

    // Skew advisor over the events key: histogram extremes + the salt
    // factor that would level the hottest key across 32 reducers -
    // the number read before choosing plain join vs AQE vs saltedJoin.
    Query("q177_skew_report", (s, dir) =>
      graft.operators.Skew.skewReport(t(s, dir, "events"), "event_type",
        partitions = 32),
    // Histogram extremes + exact integer-ceiling salt factor; max_key is
    // the min key string among count ties (deterministic).
    oracle =
      """WITH h AS (
        |  SELECT CAST(event_type AS VARCHAR) AS k,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(cnt) AS BIGINT) AS max_cnt
        |  FROM h),
        |hot AS (SELECT min(k) AS max_key FROM h JOIN t ON cnt = max_cnt)
        |SELECT n_rows, n_keys, max_cnt, max_key,
        |       CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)
        |         AS mean_rows_per_key,
        |       CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |         AS skew_ratio,
        |       CAST((max_cnt * 32 + n_rows - 1) // n_rows AS BIGINT)
        |         AS salt_factor
        |FROM t CROSS JOIN hot""".stripMargin),

    // Coordinated-sample join-size estimate for the lineitem self-join
    // on l_partkey (the "how big does this blow up" planner probe),
    // next to the exact histogram answer and their ratio. The estimate
    // itself is deterministic integers, so it hash-gates.
    Query("q178_join_size", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = graft.operators.Sketch.joinSizeEstimate(li, li,
        "l_partkey", rate = 8)
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c") * col("__c")).as("exact_join_rows"))
      est.crossJoin(exact).withColumn("ratio",
        col("est_join_rows").cast("double") /
          col("exact_join_rows").cast("double"))
    },
    // The engine's coordinated sample (Knuth bucket % 8 = 0 on BOTH
    // sides) + the exact per-key histogram answer.
    oracle =
      """WITH s AS (
        |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem
        |  WHERE (((l_partkey % 2147483648) * 2654435761) % 4294967296) % 8 = 0
        |  GROUP BY 1),
        |est AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sampled_keys,
        |         CAST(COALESCE(sum(c * c), 0) AS BIGINT) AS sampled_pairs,
        |         CAST(COALESCE(sum(c * c) * 8, 0) AS BIGINT) AS est_join_rows
        |  FROM s),
        |ex AS (
        |  SELECT CAST(sum(c * c) AS BIGINT) AS exact_join_rows FROM (
        |    SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey))
        |SELECT n_sampled_keys, sampled_pairs, est_join_rows, exact_join_rows,
        |       CAST(est_join_rows AS DOUBLE) / CAST(exact_join_rows AS DOUBLE)
        |         AS ratio
        |FROM est CROSS JOIN ex""".stripMargin),

    // Top principal direction of the embeddings (anisotropy probe /
    // all-but-the-top input): exact fixed-point Gram matrix from one
    // distributed pass, then 20 driver-side power iterations in a fixed
    // fold order the oracle replays verbatim - even the eigensolver is
    // hash-gated.
    Query("q179_top_component", (s, dir) =>
      graft.operators.Projection.topComponentFixedPoint(
        t(s, dir, "embeddings"), "embedding", dim = 64).orderBy("dim"),
    // Exact-integer Gram, then the SAME power iteration the engine runs
    // on the driver: left folds over b then a, all-ones start, 20
    // rounds; the matvec expression is inlined twice (value + its own
    // normalizer) because the recursive member cannot name it.
    oracle =
      s"""WITH RECURSIVE $oTopComponentCtes,
         |wf AS (SELECT $oPowerW AS w, v FROM fin, mm),
         |lam AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(64), a -> v[a+1] * w[a+1])),
         |    (x, y) -> x + y) AS lambda
         |  FROM wf)
         |SELECT CAST(d.a AS BIGINT) AS dim, f.v[d.a+1] AS loading,
         |       lam.lambda AS lambda
         |FROM fin f, lam, range(64) d(a) ORDER BY dim""".stripMargin),

    // Reliability table for the distilled classifier: tie-stable score
    // deciles (q75's value-ntile) vs the gate's actual keep rate per
    // decile - the calibration read that complements q169's AUC (is a
    // higher score actually a higher keep probability, bucket by
    // bucket?).
    // All-but-the-top, measured: remove the q179 direction (v rides as
    // a plan literal; map-only residual pass) and report per-dimension
    // fixed-point energy before/after - the anisotropy fix verified by
    // exact arithmetic.
    Query("q181_top_removal", (s, dir) =>
      graft.operators.Projection.removeTopComponentEnergy(
        t(s, dir, "embeddings"), "embedding", dim = 64).orderBy("dim"),
    // q179's CTEs give v; residuals r = x - (x.v)v per row, quantized
    // energies per dimension before/after.
    oracle =
      s"""WITH RECURSIVE $oTopComponentCtes,
         |xd AS (SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
         |dotc AS (
         |  SELECT x, v, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(64), b -> x[b+1] * v[b+1])),
         |    (p, q) -> p + q) AS dot
         |  FROM xd, fin),
         |qq AS (
         |  SELECT d.b AS dim,
         |         greatest(CAST(-67108864 AS BIGINT), least(CAST(67108864 AS BIGINT),
         |           CAST(floor(x[d.b+1] * CAST(1048576 AS DOUBLE)) AS BIGINT))) AS qx,
         |         greatest(CAST(-67108864 AS BIGINT), least(CAST(67108864 AS BIGINT),
         |           CAST(floor((x[d.b+1] - dot * v[d.b+1])
         |             * CAST(1048576 AS DOUBLE)) AS BIGINT))) AS qr
         |  FROM dotc, range(64) d(b))
         |SELECT CAST(dim AS BIGINT) AS dim,
         |       CAST(sum(qx * qx) AS BIGINT) AS energy_before,
         |       CAST(sum(qr * qr) AS BIGINT) AS energy_after,
         |       CASE WHEN sum(qx * qx) > 0
         |            THEN CAST(1.0 AS DOUBLE) -
         |                 CAST(sum(qr * qr) AS DOUBLE) /
         |                 CAST(sum(qx * qx) AS DOUBLE) END AS removed_frac
         |FROM qq GROUP BY 1 ORDER BY dim""".stripMargin),

    // Cross-source duplication matrix: near-dup pairs bucketed by their
    // (unordered) source pair - the mirror-site / content-farm detector
    // that tells which sources copy from which.
    Query("q196_cross_source_dups", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 2)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("i"), col("source").as("__sa")), "i")
        .join(src.select(col("doc_id").as("j"), col("source").as("__sb")), "j")
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },
    // Wide pairs joined to sources on both ends, unordered source pair.
    oracle =
      s"""WITH ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 2)},
         |ps AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.i
         |  JOIN documents db ON db.doc_id = p.j)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM ps GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Dedup radius sensitivity: pair counts per Hamming distance and
    // cumulative pairs at radius <= h, h = 0..3, from ONE banded pass -
    // the sweep read before locking a near-dup threshold.
    Query("q197_radius_sweep", (s, dir) => {
      val p3 = Dedup.simhashPairsWide(t(s, dir, "documents"), "doc_id",
        "text", maxHamming = 3)
        .groupBy("hamming").agg(count(lit(1)).as("n_at"))
      val w = Window.orderBy("hamming")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      p3.withColumn("n_pairs_le", sum("n_at").over(w)).orderBy("hamming")
    },
    // Hamming histogram over the radius-3 wide pair set + cumulation.
    oracle =
      s"""WITH ${oWideSimhashCtes()},
         |pairs AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j,
         |         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM wide a JOIN wide b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |h AS (
         |  SELECT hamming, CAST(count(*) AS BIGINT) AS n_at
         |  FROM pairs GROUP BY 1)
         |SELECT hamming, n_at,
         |       CAST(sum(n_at) OVER (ORDER BY hamming) AS BIGINT) AS n_pairs_le
         |FROM h ORDER BY hamming""".stripMargin),

    // Tier agreement: MinHash-LSH (total-recall exact-Jaccard >= 0.5)
    // vs the wide simhash tier - full outer join of the two pair SETS,
    // one-row overlap report incl. pair-set Jaccard. The calibration
    // read for "do the cheap and exact tiers see the same duplicates?"
    Query("q198_tier_agreement", (s, dir) => {
      val docs = t(s, dir, "documents")
      val a = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5, numHashes = 48, bandRows = 6)
        .select(col("i"), col("j"), lit(true).as("__a"))
      val b = Dedup.simhashPairsWide(docs, "doc_id", "text", maxHamming = 2)
        .select(col("i"), col("j"), lit(true).as("__b"))
      a.join(b, Seq("i", "j"), "full_outer")
        .agg(count(when(col("__a"), 1L)).as("n_minhash"),
          count(when(col("__b"), 1L)).as("n_simhash"),
          count(when(col("__a") && col("__b"), 1L)).as("n_both"))
        .withColumn("pair_jaccard",
          col("n_both").cast("double") /
            (col("n_minhash") + col("n_simhash") - col("n_both"))
              .cast("double"))
    },
    // A = exact-Jaccard >= 0.5 trigram pairs (the q24 contract: the
    // engine's LSH has total recall there); B = wide simhash pairs.
    oracle =
      s"""WITH ${oJaccardCtes(3)},
         |aset AS (SELECT i, j FROM jac WHERE jaccard >= 0.5),
         |${oWideSimhashCtes()},
         |${oWidePairsCte("bset", 2)},
         |fo AS (
         |  SELECT coalesce(a.i, b.i) AS i, coalesce(a.j, b.j) AS j,
         |         (a.i IS NOT NULL) AS ina, (b.i IS NOT NULL) AS inb
         |  FROM aset a FULL OUTER JOIN bset b ON a.i = b.i AND a.j = b.j),
         |agg AS (
         |  SELECT CAST(count(CASE WHEN ina THEN 1 END) AS BIGINT) AS n_minhash,
         |         CAST(count(CASE WHEN inb THEN 1 END) AS BIGINT) AS n_simhash,
         |         CAST(count(CASE WHEN ina AND inb THEN 1 END) AS BIGINT) AS n_both
         |  FROM fo)
         |SELECT n_minhash, n_simhash, n_both,
         |       CAST(n_both AS DOUBLE) /
         |         CAST(n_minhash + n_simhash - n_both AS DOUBLE) AS pair_jaccard
         |FROM agg""".stripMargin),

    // Vocabulary coverage curve: how many distinct tokens (ranked by
    // frequency desc, token asc) cover 50/90/99% of corpus token mass -
    // the vocab-size design input for a tokenizer. Windows run over
    // VOCAB rows only.
    Query("q194_vocab_coverage", (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(desc("c"), col("t"))
      val wCum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      tf.withColumn("cum", sum("c").over(wCum))
        .withColumn("r", row_number().over(ord).cast("long"))
        .withColumn("n", sum("c").over(wAll))
        .agg(min("n").as("n_tokens"),
          count(lit(1)).as("vocab_size"),
          min(when(col("cum") * 100 >= col("n") * 50, col("r"))).as("v50"),
          min(when(col("cum") * 100 >= col("n") * 90, col("r"))).as("v90"),
          min(when(col("cum") * 100 >= col("n") * 99, col("r"))).as("v99"))
    },
    // Frequency-ranked token cumulation over vocab rows; RANGE==ROWS
    // because (c DESC, t) is a total order.
    oracle =
      s"""WITH tf AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($oToks) AS t FROM documents) GROUP BY 1),
         |r AS (
         |  SELECT t, c,
         |         CAST(sum(c) OVER (ORDER BY c DESC, t) AS BIGINT) AS cum,
         |         CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS r,
         |         CAST(sum(c) OVER () AS BIGINT) AS n
         |  FROM tf)
         |SELECT CAST(min(n) AS BIGINT) AS n_tokens,
         |       CAST(count(*) AS BIGINT) AS vocab_size,
         |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN r END) AS BIGINT) AS v50,
         |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN r END) AS BIGINT) AS v90,
         |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN r END) AS BIGINT) AS v99
         |FROM r""".stripMargin),

    // Merkle snapshot DIFF: two manifests (full corpus vs one deleted
    // doc) joined on (level, idx); exactly the changed leaf and its
    // log2(shards) ancestors differ - fault localization without
    // re-checksumming the table.
    Query("q195_merkle_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      def manifest(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Profiling.merkleManifest(df,
          Sampling.hashBucket(col("doc_id"), 16), 16,
          col("doc_id"), col("lang"), col("source"), col("text"))
      val a = manifest(docs)
        .select(col("level"), col("idx"), col("n_rows").as("n_rows_a"),
          col("digest").as("__da"))
      val b = manifest(docs.filter(col("doc_id") =!= 42))
        .select(col("level"), col("idx"), col("n_rows").as("n_rows_b"),
          col("digest").as("__db"))
      a.join(b, Seq("level", "idx"))
        .filter(col("__da") =!= col("__db"))
        // digest_b (round 13): the replacement digest each differing
        // node should now carry — content-derived, oracle-recomputed
        // (the repair payload, not just the fault location)
        .select(col("level"), col("idx"), col("n_rows_a"),
          col("n_rows_b"), col("__db").as("digest_b"))
        .orderBy("level", "idx")
    },
    // Two full manifest chains (suffix a = full corpus, b = one doc
    // deleted) joined on (level, idx); only digest mismatches ship.
    oracle = {
      def pairExpr = oPolyHash(
        "md5(concat_ws('|', " +
          "CAST(max(CASE WHEN idx % 2 = 0 THEN digest END) AS VARCHAR), " +
          "CAST(max(CASE WHEN idx % 2 = 1 THEN digest END) AS VARCHAR)))")
      def lv(k: Int, sfx: String) =
        s"""lv$k$sfx AS (
           |  SELECT CAST(idx // 2 AS BIGINT) AS idx,
           |         CAST(sum(n_rows) AS BIGINT) AS n_rows,
           |         $pairExpr AS digest
           |  FROM lv${k - 1}$sfx GROUP BY 1)""".stripMargin
      def chain(sfx: String, whereClause: String) =
        s"""leaves$sfx AS (
           |  SELECT (((doc_id % 2147483648) * 2654435761) % 4294967296) % 16 AS idx,
           |         CAST(count(*) AS BIGINT) AS n_rows,
           |         CAST(sum(${oPolyHash(
                       "md5(concat_ws(chr(1), doc_id, lang, source, text))")})
           |           % 1000000000000000 AS BIGINT) AS cmod
           |  FROM documents $whereClause GROUP BY 1),
           |lv0$sfx AS (
           |  SELECT r.idx, CAST(COALESCE(l.n_rows, 0) AS BIGINT) AS n_rows,
           |         ${oPolyHash("md5(CAST(COALESCE(l.cmod, 0) AS VARCHAR))")} AS digest
           |  FROM range(0, 16) r(idx) LEFT JOIN leaves$sfx l USING (idx)),
           |${lv(1, sfx)},
           |${lv(2, sfx)},
           |${lv(3, sfx)},
           |${lv(4, sfx)},
           |m$sfx AS (
           |  SELECT 0 AS level, idx, n_rows, digest FROM lv0$sfx
           |  UNION ALL SELECT 1, idx, n_rows, digest FROM lv1$sfx
           |  UNION ALL SELECT 2, idx, n_rows, digest FROM lv2$sfx
           |  UNION ALL SELECT 3, idx, n_rows, digest FROM lv3$sfx
           |  UNION ALL SELECT 4, idx, n_rows, digest FROM lv4$sfx)""".stripMargin
      s"""WITH ${chain("a", "")},
         |${chain("b", "WHERE doc_id <> 42")}
         |SELECT a.level, a.idx, a.n_rows AS n_rows_a,
         |  b.n_rows AS n_rows_b, b.digest AS digest_b
         |FROM ma a JOIN mb b USING (level, idx)
         |WHERE a.digest <> b.digest ORDER BY level, idx""".stripMargin
    }),

    // Tokenizer fertility per language over the learned BPE vocab:
    // chars/token and tokens/word from exact sums - the audit that
    // shows which languages a vocabulary under-serves.
    Query("q191_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Bpe.bpeTokenCount(docs, "doc_id", "text", numMerges = 8)
        .join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"),
          sum("n_words").as("words"),
          sum("n_bpe_tokens").as("bpe_tokens"))
        .withColumn("chars_per_token",
          col("chars").cast("double") / col("bpe_tokens").cast("double"))
        .withColumn("tokens_per_word",
          col("bpe_tokens").cast("double") / col("words").cast("double"))
        .orderBy("lang")
    },
    // q94's BPE CTEs aggregated per language with exact sums.
    oracle = (
      oBpeCtes(8) +
        s"""
           |, wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM s8),
           |dw AS (
           |  SELECT doc_id, unnest($oToks) AS w FROM documents),
           |st AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |         CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
           |  FROM dw JOIN wl USING (w) GROUP BY 1),
           |pd AS (
           |  SELECT d.lang, d.n_chars,
           |         coalesce(st.n_words, CAST(0 AS BIGINT)) AS n_words,
           |         coalesce(st.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens
           |  FROM documents d LEFT JOIN st USING (doc_id))
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS chars,
           |       CAST(sum(n_words) AS BIGINT) AS words,
           |       CAST(sum(n_bpe_tokens) AS BIGINT) AS bpe_tokens,
           |       CAST(sum(n_chars) AS DOUBLE) /
           |         CAST(sum(n_bpe_tokens) AS DOUBLE) AS chars_per_token,
           |       CAST(sum(n_bpe_tokens) AS DOUBLE) /
           |         CAST(sum(n_words) AS DOUBLE) AS tokens_per_word
           |FROM pd GROUP BY lang ORDER BY lang""".stripMargin)),

    // Duplicate-cluster size histogram: how much mass each cluster size
    // carries after wide near-dup clustering - the dedup release
    // metric ("mostly pairs, or a few mega-clusters?").
    Query("q192_cluster_size_hist", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 2)
      graft.operators.Components.dedupClusters(docs, "doc_id", pairs)
        .filter(col("is_canonical") === 1)
        .groupBy("n_members").agg(count(lit(1)).as("n_clusters"))
        .orderBy("n_members")
    },
    // q70's recursive-CC chain reduced to per-size cluster counts.
    oracle =
      s"""WITH RECURSIVE ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 2)},
         |${oFloodCtes("doc_id", "documents")},
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
         |       FROM lab GROUP BY 1)
         |SELECT n_members, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin),

    // Continual-training contamination probe: does an INCREMENT contain
    // near-dups of already-split corpus docs - and of the TEST split in
    // particular? Cross pairs from the incremental dedup (i = corpus,
    // j = batch) joined to the corpus split; one-row verdict.
    Query("q193_incremental_leakage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldDocs = docs.filter(col("doc_id") % 7 =!= 0)
      val newDocs = docs.filter(col("doc_id") % 7 === 0)
      val pairs = Dedup.simhashPairsWideIncremental(newDocs, "doc_id",
        "text", Dedup.wideSignatures(oldDocs, "doc_id", "text"),
        maxHamming = 2)
      val crossPairs = pairs.filter(col("i") % 7 =!= 0)
      val oldSplit = Sampling.hashSplit(
        oldDocs.select(col("doc_id").as("i")), "i", 80, 10)
      val agg = crossPairs.join(oldSplit, "i").agg(
        count(lit(1)).as("n_cross_pairs"),
        count(when(col("split") === "train", 1L)).as("pairs_train"),
        count(when(col("split") === "val", 1L)).as("pairs_val"),
        count(when(col("split") === "test", 1L)).as("pairs_test"),
        count_distinct(when(col("split") === "test", col("j")))
          .as("new_docs_hitting_test"))
      newDocs.agg(count(lit(1)).as("n_new")).crossJoin(agg)
    },
    // All wide pairs with exactly one side in the increment, oriented
    // (i = corpus, j = batch), joined to the corpus split.
    oracle =
      s"""WITH ${oWideSimhashCtes()},
         |allp AS (
         |  SELECT a.doc_id AS x, b.doc_id AS y
         |  FROM wide a JOIN wide b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         |crossp AS (
         |  SELECT CASE WHEN x % 7 <> 0 THEN x ELSE y END AS i,
         |         CASE WHEN x % 7 <> 0 THEN y ELSE x END AS j
         |  FROM allp WHERE (x % 7 = 0) <> (y % 7 = 0)),
         |j2 AS (
         |  SELECT i, j,
         |         CASE WHEN (((i % 2147483648) * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
         |              WHEN (((i % 2147483648) * 2654435761) % 4294967296) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM crossp),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cross_pairs,
         |         CAST(count(CASE WHEN split = 'train' THEN 1 END) AS BIGINT) AS pairs_train,
         |         CAST(count(CASE WHEN split = 'val' THEN 1 END) AS BIGINT) AS pairs_val,
         |         CAST(count(CASE WHEN split = 'test' THEN 1 END) AS BIGINT) AS pairs_test,
         |         CAST(count(DISTINCT CASE WHEN split = 'test' THEN j END) AS BIGINT) AS new_docs_hitting_test
         |  FROM j2),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_new
         |       FROM documents WHERE doc_id % 7 = 0)
         |SELECT nn.n_new, agg.n_cross_pairs, agg.pairs_train, agg.pairs_val,
         |       agg.pairs_test, agg.new_docs_hitting_test
         |FROM nn CROSS JOIN agg""".stripMargin),

    // Per-language AUC of the distilled classifier - the fairness/slice
    // audit next to q169's global number (a slice-local blind spot
    // vanishes in the pooled AUC).
    Query("q188_auc_by_slice", (s, dir) =>
      graft.operators.Evaluation.aucExactByGroup(distillScored(s, dir),
        "lang", "zq", "keep").orderBy("lang"),
    // q169's AUC tail with the cumulation window partitioned by lang
    // (scored now carries doc_id; lang joins from documents).
    oracle =
      s"""WITH $oDistillScoredCtes,
         |sl AS (
         |  SELECT d.lang, s.zq, s.keep
         |  FROM scored s JOIN documents d USING (doc_id)),
         |hist AS (
         |  SELECT lang, zq AS s2, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM sl GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, s2, c, p,
         |         sum(c) OVER (PARTITION BY lang ORDER BY s2) AS cum
         |  FROM hist),
         |a AS (
         |  SELECT lang, CAST(sum(p) AS BIGINT) AS n_pos,
         |         CAST(sum(c - p) AS BIGINT) AS n_neg,
         |         CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS r2
         |  FROM cum GROUP BY 1)
         |SELECT lang, n_pos, n_neg,
         |       r2 - n_pos * (n_pos + 1) AS auc_num,
         |       2 * n_pos * n_neg AS auc_den,
         |       CASE WHEN n_pos > 0 AND n_neg > 0
         |            THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |                 CAST(2 * n_pos * n_neg AS DOUBLE)
         |       END AS auc
         |FROM a ORDER BY lang""".stripMargin),

    // Exact-arithmetic average precision (step-rule PR area): per-
    // threshold precisions quantized to 2^30 fixed point so the sum is
    // BIGINT - the PR-curve headline in one number, order-free.
    Query("q189_avg_precision", (s, dir) =>
      graft.operators.Evaluation.averagePrecision(distillScored(s, dir),
        "zq", "keep"),
    // Descending cumulative TP/FP; per-threshold precision quantized to
    // 2^30 before the sum, matching averagePrecision's fixed point.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |hist AS (
         |  SELECT zq AS s2, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM scored GROUP BY 1),
         |cum AS (
         |  SELECT s2, p,
         |         CAST(sum(p) OVER (ORDER BY s2 DESC) AS BIGINT) AS tp,
         |         CAST(sum(c - p) OVER (ORDER BY s2 DESC) AS BIGINT) AS fp
         |  FROM hist),
         |terms AS (
         |  SELECT p,
         |         p * CAST(floor((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
         |           * CAST(1073741824 AS DOUBLE)) AS BIGINT) AS term
         |  FROM cum)
         |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |       CAST(sum(term) AS BIGINT) AS ap_num,
         |       CASE WHEN sum(p) > 0
         |            THEN CAST(sum(term) AS DOUBLE) /
         |                 CAST(CAST(sum(p) AS BIGINT) * 1073741824 AS DOUBLE)
         |       END AS ap
         |FROM terms""".stripMargin),

    // Two-sample KS statistic of doc length, gate-kept vs dropped: does
    // the quality gate bias the length distribution? Cross-multiplied
    // exact integers; one histogram, windows over distinct values.
    Query("q190_ks_gate_length", (s, dir) => {
      val gated = TextAnalysis.qualityGate(t(s, dir, "documents"),
        "doc_id", "text", keepInputCols = true)
      graft.operators.Profiling.ksStatistic(gated, col("n_chars"),
        col("keep"))
    },
    // Gate verdict -> per-length two-sided counts -> cross-multiplied
    // cumulative compare, exactly ksStatistic's arithmetic.
    oracle =
      s"""WITH $oGateCtes,
         |g AS (
         |  SELECT d.n_chars AS v, (vd.reasons = 0) AS r
         |  FROM documents d JOIN verdict vd USING (doc_id)),
         |hist AS (
         |  SELECT v, count(CASE WHEN r THEN 1 END) AS cr,
         |         count(CASE WHEN NOT r THEN 1 END) AS cc
         |  FROM g GROUP BY 1),
         |cum AS (
         |  SELECT v,
         |         CAST(sum(cr) OVER (ORDER BY v) AS BIGINT) AS cumr,
         |         CAST(sum(cc) OVER (ORDER BY v) AS BIGINT) AS cumc,
         |         CAST(sum(cr) OVER () AS BIGINT) AS nr,
         |         CAST(sum(cc) OVER () AS BIGINT) AS nc
         |  FROM hist)
         |SELECT CAST(min(nr) AS BIGINT) AS n_ref,
         |       CAST(min(nc) AS BIGINT) AS n_cur,
         |       CAST(max(abs(cumr * nc - cumc * nr)) AS BIGINT) AS ks_num,
         |       CAST(min(nr) * min(nc) AS BIGINT) AS ks_den,
         |       CASE WHEN min(nr) * min(nc) > 0
         |            THEN CAST(max(abs(cumr * nc - cumc * nr)) AS DOUBLE) /
         |                 CAST(min(nr) * min(nc) AS DOUBLE)
         |       END AS ks
         |FROM cum""".stripMargin),

    // Co-engagement (market-basket) pairs over the (order, part)
    // bipartite table with degree capping - hub actors dropped BEFORE
    // the per-actor self-join, so fan-out is bounded at maxDegree^2 per
    // actor; only pairs seen in >= 2 baskets ship.
    Query("q186_coengagement", (s, dir) =>
      graft.operators.Cooccur.coEngagementPairs(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxDegree = 6)
        .filter(col("n_actors") >= 2)
        .orderBy("item_a", "item_b"),
    // Distinct (actor, item) -> HAVING degree cap -> per-actor pair
    // join, exactly the engine's stages.
    oracle =
      """WITH ai AS (
        |  SELECT DISTINCT l_orderkey AS a, l_partkey AS i FROM lineitem),
        |ok AS (SELECT a FROM ai GROUP BY a HAVING count(*) <= 6),
        |c AS (SELECT ai.a, i FROM ai JOIN ok USING (a))
        |SELECT x.i AS item_a, y.i AS item_b,
        |       CAST(count(*) AS BIGINT) AS n_actors
        |FROM c x JOIN c y ON x.a = y.a AND x.i < y.i
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin),

    // Greedy token-budget allocation across sources by mean quality
    // (fixed-point sums, one division for the order key): fractional-
    // knapsack optimum, rejected mass visible as alloc < avail.
    Query("q187_budget_alloc", (s, dir) => {
      val stats = t(s, dir, "documents").groupBy("source").agg(
        sum(floor(TextAnalysis.qualityScore(col("text")) * lit(1048576L))
          .cast("long")).as("qsum"),
        count(lit(1)).as("n"),
        sum(TextAnalysis.tokenCount(col("text"))).as("avail"))
        .select(col("source"),
          (col("qsum").cast("double") / col("n").cast("double"))
            .as("quality"),
          col("avail"))
      graft.operators.Mixing.budgetAllocate(stats, "source", "quality",
        "avail", budget = 15000L).orderBy("source")
    },
    // Per-source fixed-point quality sums (q98's f_quality text), one
    // division for the order key, then the running-sum greedy fill.
    oracle =
      s"""WITH m AS (
         |  SELECT source, text, $oToks AS tk FROM documents),
         |f AS (
         |  SELECT source,
         |         (least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |          + least(CAST(len(tk) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |          + (CAST(1.0 AS DOUBLE) - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS DOUBLE)
         |                 / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))) / CAST(3.0 AS DOUBLE) AS q,
         |         CAST(len(tk) AS BIGINT) AS ntok
         |  FROM m),
         |st AS (
         |  SELECT source,
         |         CAST(sum(CAST(floor(q * CAST(1048576 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS qsum,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(ntok) AS BIGINT) AS avail
         |  FROM f GROUP BY 1),
         |qq AS (
         |  SELECT source, CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) AS quality,
         |         avail
         |  FROM st),
         |alloc AS (
         |  SELECT source, quality, avail,
         |         CAST(COALESCE(sum(avail) OVER (ORDER BY quality DESC, source
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM qq)
         |SELECT source, quality, avail, cum_before,
         |       greatest(CAST(0 AS BIGINT),
         |         least(avail, 15000 - cum_before)) AS alloc_tokens
         |FROM alloc ORDER BY source""".stripMargin),

    // Spectral gap: second eigenvalue via one Hotelling deflation +
    // second power iteration (all driver doubles in the same fixed fold
    // order) - "does removing ONE component fix the anisotropy?"
    Query("q185_spectral_gap", (s, dir) =>
      graft.operators.Projection.spectralGapFixedPoint(
        t(s, dir, "embeddings"), "embedding", dim = 64),
    // q179's chain, then the deflated matrix m2 = M - lambda*v*vT (all
    // DOUBLEs, same op order as the driver) and a SECOND recursive
    // power iteration over it.
    oracle =
      s"""WITH RECURSIVE $oTopComponentCtes,
         |wf AS (SELECT $oPowerW AS w, v FROM fin, mm),
         |lam AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(64), a -> v[a+1] * w[a+1])),
         |    (x, y) -> x + y) AS lambda
         |  FROM wf),
         |m2 AS MATERIALIZED (
         |  SELECT list_transform(range(64), a -> list_transform(range(64),
         |    b -> CAST(m[a+1][b+1] AS DOUBLE) - lambda * v[a+1] * v[b+1]))
         |    AS m
         |  FROM mm, fin, lam),
         |it2(t, v) AS (
         |  SELECT 0, list_transform(range(64), x -> CAST(1.0 AS DOUBLE))
         |  UNION ALL
         |  SELECT t + 1,
         |         list_transform($oPowerW, wa -> wa / sqrt(list_reduce(
         |           list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform($oPowerW, wx -> wx * wx)),
         |           (x, y) -> x + y)))
         |  FROM it2, m2 WHERE t < 20),
         |fin2 AS (SELECT v FROM it2 WHERE t = 20),
         |wf2 AS (SELECT $oPowerW AS w, v FROM fin2, m2),
         |lam2 AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(64), a -> v[a+1] * w[a+1])),
         |    (x, y) -> x + y) AS lambda2
         |  FROM wf2)
         |SELECT lam.lambda AS lambda1, lam2.lambda2 AS lambda2,
         |       CASE WHEN lam.lambda <> CAST(0.0 AS DOUBLE)
         |            THEN lam2.lambda2 / lam.lambda END AS gap_ratio
         |FROM lam, lam2""".stripMargin),

    // The model-eval suite as ONE composed release verdict: AUC +
    // operating point (smallest threshold with precision >= 0.95, i.e.
    // max recall at that floor) + bootstrap keep-rate interval, and a
    // boolean ship/no-ship gate over all three - the q166 discipline
    // applied to the classifier itself.
    Query("q184_eval_verdict", (s, dir) => {
      val scored = graft.operators.CacheScope.track(distillScored(s, dir))
      val auc = graft.operators.Evaluation.aucExact(scored, "zq", "keep")
        .select(col("n_pos"), col("n_neg"), col("auc"))
      val sel = graft.operators.Evaluation.prCurve(scored, "zq", "keep")
        .filter(col("precision") >= 0.95)
        .orderBy("threshold").limit(1)
        .select(col("threshold").as("thr_sel"),
          col("precision").as("precision_sel"),
          col("recall").as("recall_sel"))
      val ci = Sampling.bootstrapReplicates(scored, "doc_id",
        col("keep").cast("long"), replicates = 32)
        .agg(min("rate").as("keep_lo"), max("rate").as("keep_hi"))
      auc.crossJoin(sel).crossJoin(ci)
        .withColumn("eval_ok",
          col("auc") >= 0.99 && col("recall_sel") >= 0.9 &&
            col("keep_lo") >= 0.5)
    },
    // One WITH: the AUC tail, the PR tail (threshold pick via ORDER BY
    // LIMIT 1), and the bootstrap extremes, cross-joined like the
    // engine's one-row aggregates.
    oracle = {
      val wCases = graft.operators.Sampling.PoissonCdf
        .map(c => s"(CASE WHEN h / CAST(4294967296 AS DOUBLE) >= CAST($c AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|         + ")
      s"""WITH $oDistillScoredCtes,
         |ahist AS (
         |  SELECT zq AS s2, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM scored GROUP BY 1),
         |acum AS (
         |  SELECT s2, c, p, sum(c) OVER (ORDER BY s2) AS cum FROM ahist),
         |aa AS (
         |  SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |         CAST(sum(c - p) AS BIGINT) AS n_neg,
         |         CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS r2
         |  FROM acum),
         |auct AS (
         |  SELECT n_pos, n_neg,
         |         CASE WHEN n_pos > 0 AND n_neg > 0
         |              THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |                   CAST(2 * n_pos * n_neg AS DOUBLE)
         |         END AS auc
         |  FROM aa),
         |pcum AS (
         |  SELECT s2 AS threshold,
         |         CAST(sum(p) OVER (ORDER BY s2 DESC) AS BIGINT) AS tp,
         |         CAST(sum(c - p) OVER (ORDER BY s2 DESC) AS BIGINT) AS fp,
         |         CAST(sum(p) OVER () AS BIGINT) AS pall
         |  FROM ahist),
         |psel AS (
         |  SELECT threshold AS thr_sel,
         |         CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_sel,
         |         CASE WHEN pall > 0
         |              THEN CAST(tp AS DOUBLE) / CAST(pall AS DOUBLE)
         |         END AS recall_sel
         |  FROM pcum
         |  WHERE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) >= CAST(0.95 AS DOUBLE)
         |  ORDER BY threshold LIMIT 1),
         |bk AS (
         |  SELECT doc_id, CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS m
         |  FROM verdict),
         |br AS (
         |  SELECT b.b, m,
         |         (((doc_id * 32 + b.b) % 2147483648) * 2654435761)
         |           % 4294967296 AS h
         |  FROM bk, range(32) b(b)),
         |bw AS (
         |  SELECT b, m,
         |         $wCases AS w
         |  FROM br),
         |brates AS (
         |  SELECT CASE WHEN sum(w) > 0
         |              THEN CAST(sum(w * m) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
         |         END AS rate
         |  FROM bw GROUP BY b),
         |ci AS (SELECT min(rate) AS keep_lo, max(rate) AS keep_hi FROM brates)
         |SELECT a.n_pos, a.n_neg, a.auc, p.thr_sel, p.precision_sel,
         |       p.recall_sel, ci.keep_lo, ci.keep_hi,
         |       (a.auc >= CAST(0.99 AS DOUBLE) AND
         |        p.recall_sel >= CAST(0.9 AS DOUBLE) AND
         |        ci.keep_lo >= CAST(0.5 AS DOUBLE)) AS eval_ok
         |FROM auct a CROSS JOIN psel p CROSS JOIN ci""".stripMargin
    }),

    // Exact 10%-trimmed mean of doc length per lang: drop exactly
    // floor(n/10) rows from each tail off the cumulated histogram (a
    // boundary value's count splits row-exactly) - the robust location
    // estimate between mean and median, strictly histogram-bounded.
    Query("q183_trimmed_mean", (s, dir) =>
      graft.operators.ExactQuantiles.trimmedMeanByGroup(
        t(s, dir, "documents"), "lang", "n_chars", num = 1, den = 10)
        .orderBy("lang"),
    // Row-exact tail trimming off the cumulated histogram; kept rows
    // per value bucket = max(0, min(cum, n-k) - max(cum-c, k)).
    oracle =
      """WITH h AS (
        |  SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v, c,
        |         CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM h),
        |k AS (
        |  SELECT lang, v, c, cum, n, CAST(n * 1 // 10 AS BIGINT) AS kk
        |  FROM cum),
        |kept AS (
        |  SELECT lang, n, kk,
        |         greatest(CAST(0 AS BIGINT),
        |           least(cum, n - kk) - greatest(cum - c, kk)) AS kp, v
        |  FROM k)
        |SELECT lang, CAST(min(n) AS BIGINT) AS n,
        |       CAST(min(kk) AS BIGINT) AS k_trimmed,
        |       CAST(sum(v * kp) AS BIGINT) AS trimmed_sum,
        |       CASE WHEN min(n) - 2 * min(kk) > 0
        |            THEN CAST(sum(v * kp) AS DOUBLE) /
        |                 CAST(min(n) - 2 * min(kk) AS DOUBLE)
        |       END AS trimmed_mean
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),

    // Error bars on the gate's keep rate: 32 deterministic Poisson-
    // bootstrap replicates in ONE pass (hash-derived weights, driver-
    // literal CDF, exact integer sums) - the spread across rows is the
    // keep rate's sampling distribution, and even that is hash-gated.
    Query("q182_bootstrap_keep", (s, dir) => {
      val gated = TextAnalysis.qualityGate(t(s, dir, "documents"),
        "doc_id", "text", keepInputCols = true)
      Sampling.bootstrapReplicates(gated, "doc_id",
        col("keep").cast("long"), replicates = 32).orderBy("b")
    },
    // The engine's Knuth-hash draws and driver-literal Poisson CDF,
    // replicated per b via a range cross join.
    oracle = {
      val wCases = graft.operators.Sampling.PoissonCdf
        .map(c => s"(CASE WHEN h / CAST(4294967296 AS DOUBLE) >= CAST($c AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|         + ")
      s"""WITH $oGateCtes,
         |k AS (
         |  SELECT doc_id, CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS m
         |  FROM verdict),
         |r AS (
         |  SELECT b.b, m,
         |         (((doc_id * 32 + b.b) % 2147483648) * 2654435761)
         |           % 4294967296 AS h
         |  FROM k, range(32) b(b)),
         |w AS (
         |  SELECT b, m,
         |         $wCases AS w
         |  FROM r)
         |SELECT CAST(b AS BIGINT) AS b, CAST(sum(w) AS BIGINT) AS w_sum,
         |       CAST(sum(w * m) AS BIGINT) AS metric_wsum,
         |       CASE WHEN sum(w) > 0
         |            THEN CAST(sum(w * m) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
         |       END AS rate
         |FROM w GROUP BY 1 ORDER BY b""".stripMargin
    }),

    Query("q180_reliability", (s, dir) => {
      val scored = distillScored(s, dir).withColumn("__g", lit(1))
      graft.operators.ExactQuantiles.valueNtile(scored, "__g", "zq", k = 10)
        .groupBy(col("zq_bucket").as("bucket"))
        .agg(count(lit(1)).as("n"),
          count(when(col("keep"), 1L)).as("n_keep"),
          min("zq").as("zq_min"), max("zq").as("zq_max"))
        .withColumn("keep_rate",
          col("n_keep").cast("double") / col("n").cast("double"))
        .orderBy("bucket")
    },
    // q75's ceiling-bucket arithmetic over the score histogram, then
    // per-decile keep rates.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |h AS (
         |  SELECT zq AS v, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS kc
         |  FROM scored GROUP BY 1),
         |b AS (
         |  SELECT v, kc, c,
         |         CAST((sum(c) OVER (ORDER BY v) * 10 - 1)
         |              // (sum(c) OVER ()) + 1 AS BIGINT) AS bucket
         |  FROM h)
         |SELECT bucket, CAST(sum(c) AS BIGINT) AS n,
         |       CAST(sum(kc) AS BIGINT) AS n_keep,
         |       min(v) AS zq_min, max(v) AS zq_max,
         |       CAST(sum(kc) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS keep_rate
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Deequ/TFDV-style per-COLUMN profile of lineitem: one stack pass →
    // (column, value) histogram → per-column nulls / exact NDV / mode
    // frequency / completeness / uniqueness — the snapshot-drift
    // artifact two releases diff in |cols| rows.
    Query("q199_column_profile", (s, dir) =>
      graft.operators.Profiling.columnProfile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
          "l_linestatus", "l_shipdate"))
        .orderBy("column"),
    // Per-column blocks over native values; the engine's CAST-to-STRING
    // histogram image is injective for these types, so the exact NDV /
    // mode-frequency numbers agree.
    oracle = {
      def block(c: String) =
        s"""SELECT '$c' AS "column", n_rows, n_nulls, n_distinct, max_freq,
           |       CAST(n_rows - n_nulls AS DOUBLE) / CAST(n_rows AS DOUBLE)
           |         AS completeness,
           |       n_distinct > 0 AND max_freq <= 1 AS is_unique
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |         CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |         CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |         CAST(coalesce((SELECT max(cnt) FROM (
           |           SELECT count(*) AS cnt FROM lineitem
           |           WHERE $c IS NOT NULL GROUP BY $c)), 0) AS BIGINT)
           |           AS max_freq
           |  FROM lineitem)""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        "l_linestatus", "l_shipdate")
        .map(block).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY \"column\"")
    }),

    // Deequ-style constraint audit: ALL row-local rules share one
    // aggregate pass; uniqueness rides a key histogram; the FK rule
    // left-joins distinct parent keys. One row per rule, the table a
    // publish gate reads. range:l_quantity[1,49] is a deliberately
    // failing rule (TPC-H quantity reaches 50) — the audit reports, the
    // caller gates.
    Query("q200_constraint_audit", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val row = graft.operators.Constraints.rowRules(li, Seq(
        ("complete:l_shipdate", col("l_shipdate").isNull),
        ("nonneg:l_extendedprice", col("l_extendedprice") < 0),
        ("range:l_quantity[1,49]", !col("l_quantity").between(1, 49)),
        ("set:l_returnflag{A,N,R}",
          !col("l_returnflag").isin("A", "N", "R"))))
      val uq = graft.operators.Constraints.uniqueRule(li,
        "unique:(l_orderkey,l_linenumber)",
        Seq("l_orderkey", "l_linenumber"))
      val fk = graft.operators.Constraints.fkRule(li,
        "fk:l_orderkey->orders", "l_orderkey",
        t(s, dir, "orders"), "o_orderkey")
      graft.operators.Constraints.audit(Seq(row, uq, fk))
    },
    // Row-local rules share one scan; uniqueness rides the key
    // histogram; FK left-joins distinct parent keys. NULL rule
    // predicates count as violations (coalesce TRUE), matching the
    // engine's isViol contract.
    oracle =
      """WITH rr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(CASE WHEN coalesce(l_shipdate IS NULL, TRUE)
        |           THEN 1 END) AS BIGINT) AS v0,
        |         CAST(count(CASE WHEN coalesce(l_extendedprice < 0, TRUE)
        |           THEN 1 END) AS BIGINT) AS v1,
        |         CAST(count(CASE WHEN coalesce(NOT (l_quantity BETWEEN 1 AND 49), TRUE)
        |           THEN 1 END) AS BIGINT) AS v2,
        |         CAST(count(CASE WHEN coalesce(NOT (l_returnflag IN ('A','N','R')), TRUE)
        |           THEN 1 END) AS BIGINT) AS v3
        |  FROM lineitem),
        |uq AS (
        |  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS v
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)),
        |fk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS v
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT * FROM (
        |  SELECT 'complete:l_shipdate' AS rule, n AS n_checked,
        |         v0 AS violations, v0 = 0 AS passed FROM rr
        |  UNION ALL SELECT 'nonneg:l_extendedprice', n, v1, v1 = 0 FROM rr
        |  UNION ALL SELECT 'range:l_quantity[1,49]', n, v2, v2 = 0 FROM rr
        |  UNION ALL SELECT 'set:l_returnflag{A,N,R}', n, v3, v3 = 0 FROM rr
        |  UNION ALL SELECT 'unique:(l_orderkey,l_linenumber)', n, v, v = 0 FROM uq
        |  UNION ALL SELECT 'fk:l_orderkey->orders', n, v, v = 0 FROM fk)
        |ORDER BY rule""".stripMargin),

    // CUSUM changepoint over daily event volume: the sequential
    // max(0, S+x−μ) recursion as prefix-sum minus running-min — two
    // windows over DAY rows, exact scaled integers, alarm when
    // CUSUM > 1× the daily mean.
    Query("q201_cusum", (s, dir) =>
      graft.operators.EventAnalytics.cusumCounts(
        graft.io.TableIO.eventsNanos(s, dir),
        graft.functions.floorDivLit(col("ts"), 86400000000000L), alarmH = 1)
        .orderBy("bucket"),
    // Prefix sum minus running min over the day histogram — the CUSUM
    // identity; distinct buckets make DuckDB's RANGE default frame equal
    // to the engine's ROWS frame.
    oracle =
      """WITH h AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(x) AS BIGINT) AS t FROM h),
        |p AS (
        |  SELECT bucket, x, t,
        |         CAST(sum(x * n - t) OVER (ORDER BY bucket) AS BIGINT) AS pf
        |  FROM h CROSS JOIN tot),
        |s AS (
        |  SELECT bucket, x, t,
        |         CAST(pf - least(CAST(0 AS BIGINT),
        |           min(pf) OVER (ORDER BY bucket)) AS BIGINT) AS cusum_scaled
        |  FROM p)
        |SELECT bucket, x, cusum_scaled, cusum_scaled > t * 1 AS alarm
        |FROM s ORDER BY bucket""".stripMargin),

    // MinHash-LSH S-curve planner: p(s) = 1−(1−s^r)^b over a similarity
    // grid for three candidate configs (q24 runs 8×6) — fixed-order
    // multiplication chains, so even the planner is hash-gated.
    Query("q202_lsh_curve", (s, dir) =>
      Dedup.lshParameterCurve(s,
        configs = Seq((8, 6), (16, 4), (32, 3)),
        sPcts = (1 to 19).map(_ * 5)),
    // Same fixed-order square-and-multiply chains as the engine, per
    // config — bit-identical doubles, no libm pow anywhere.
    oracle = {
      def conf(b: Int, r: Int) = {
        val s = "(CAST(s_pct AS DOUBLE) / 100.0)"
        val p = s"(1.0 - ${oPowFixed(s"(1.0 - ${oPowFixed(s, r)})", b)})"
        s"""SELECT CAST($b AS INTEGER) AS b, CAST($r AS INTEGER) AS r,
           |       s_pct, $p AS p_collide FROM g""".stripMargin
      }
      s"""WITH g AS (
         |  SELECT CAST(i * 5 AS INTEGER) AS s_pct FROM range(1, 20) t(i))
         |SELECT * FROM (
         |${conf(8, 6)}
         |UNION ALL
         |${conf(16, 4)}
         |UNION ALL
         |${conf(32, 3)}
         |) ORDER BY b, r, s_pct""".stripMargin
    }),

    // Stratified k-fold: per-lang fold sizes differ by ≤1 by
    // construction (q99's hash split cannot promise that) — the
    // histogram-offset rank plan, no per-stratum window funnel.
    Query("q203_stratified_kfold", (s, dir) =>
      Sampling.stratifiedKFold(t(s, dir, "documents"), "lang", "doc_id",
        k = 5)
        .groupBy("lang", "fold").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "fold"),
    // Knuth-hash rank within stratum, round-robin fold; the oracle may
    // use the plain per-stratum window the engine's histogram-offset
    // plan replaces.
    oracle =
      """WITH h AS (
        |  SELECT lang, doc_id,
        |         (((doc_id % 2147483648) * 2654435761) % 4294967296) AS hh
        |  FROM documents),
        |r AS (
        |  SELECT lang,
        |         CAST((row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id)
        |           - 1) % 5 AS BIGINT) AS fold
        |  FROM h)
        |SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_docs
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Per-source language diversity: Gini impurity + inverse-Simpson
    // effective class count from the exact (source, lang) histogram —
    // the datasheet's mix metric without entropy's libm log.
    Query("q204_source_diversity", (s, dir) =>
      graft.operators.Profiling.diversityByGroup(t(s, dir, "documents"),
        "source", "lang").orderBy("source"),
    // Exact (source, lang) histogram → Σc², two final divisions.
    oracle =
      """WITH h AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |a AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS n_classes,
        |         CAST(sum(c * c) AS BIGINT) AS simpson_num
        |  FROM h GROUP BY 1)
        |SELECT source, n, n_classes, simpson_num,
        |       1.0 - CAST(simpson_num AS DOUBLE) / CAST(n * n AS DOUBLE)
        |         AS gini,
        |       CAST(n * n AS DOUBLE) / CAST(simpson_num AS DOUBLE)
        |         AS inv_simpson
        |FROM a ORDER BY source""".stripMargin),

    // Pairwise source VOCABULARY overlap: distinct-token sets compared
    // via inclusion-exclusion on the token-keyed vocab self-join —
    // register/domain similarity before any document pair is compared.
    Query("q205_vocab_overlap", (s, dir) =>
      TextAnalysis.vocabOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy("group_a", "group_b"),
    // Distinct (source, token) sets; intersections from the token-keyed
    // self-join, unions by inclusion-exclusion.
    oracle =
      s"""WITH v AS (
         |  SELECT DISTINCT source AS g, t
         |  FROM (SELECT source, unnest($oToks) AS t FROM documents)),
         |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS vz FROM v GROUP BY 1),
         |i AS (
         |  SELECT a.g AS group_a, b.g AS group_b,
         |         CAST(count(*) AS BIGINT) AS inter
         |  FROM v a JOIN v b ON a.t = b.t AND a.g < b.g GROUP BY 1, 2)
         |SELECT group_a, group_b, sa.vz AS vocab_a, sb.vz AS vocab_b, inter,
         |       CAST(inter AS DOUBLE) /
         |         CAST(sa.vz + sb.vz - inter AS DOUBLE) AS jaccard
         |FROM i JOIN sz sa ON sa.g = i.group_a
         |       JOIN sz sb ON sb.g = i.group_b
         |ORDER BY group_a, group_b""".stripMargin),

    // Per-SOURCE token-budget cap at doc granularity: keep docs in
    // (quality desc, doc_id) order while the running token sum stays
    // ≤ 1500 — q187 allocates ACROSS sources; this ENFORCES a cap
    // within each one via the histogram-offset prefix-sum plan (no
    // per-source window funnel). Summary per source.
    Query("q206_domain_cap", (s, dir) => {
      val base = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("ntok"),
        floor(TextAnalysis.qualityScore(col("text")) * lit(1048576L))
          .cast("long").as("qi"))
      graft.operators.Mixing.budgetCapPerGroup(base, col("source"),
        bucket = -(expr("qi DIV 4096")), // 256 coarse quality buckets
        order = Seq(col("qi").desc, col("doc_id")),
        weight = col("ntok"), budget = 1500L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("kept"), 1L)).as("n_kept"),
          coalesce(sum(when(col("kept"), col("ntok"))), lit(0L))
            .as("kept_tokens"),
          sum(col("ntok")).as("total_tokens"))
        .orderBy("source")
    },
    // q187's per-doc quality fixed point, then the per-source inclusive
    // running token sum in (qi DESC, doc_id) order — the oracle may use
    // the plain per-source window the engine's histogram-offset plan
    // replaces.
    oracle =
      s"""WITH m AS (
         |  SELECT source, doc_id, text, $oToks AS tk FROM documents),
         |f AS (
         |  SELECT source, doc_id, CAST(len(tk) AS BIGINT) AS ntok,
         |         CAST(floor(
         |           (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         |            + least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
         |            + (1.0 - CAST(len(regexp_extract_all(text,
         |                 '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS DOUBLE)
         |               / greatest(CAST(length(text) AS DOUBLE), 1.0)))
         |           / 3.0 * 1048576) AS BIGINT) AS qi
         |  FROM m),
         |w AS (
         |  SELECT source, ntok,
         |         CAST(sum(ntok) OVER (PARTITION BY source
         |           ORDER BY qi DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |  FROM f)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(CASE WHEN cum <= 1500 THEN 1 END) AS BIGINT)
         |         AS n_kept,
         |       CAST(coalesce(sum(CASE WHEN cum <= 1500 THEN ntok END), 0)
         |         AS BIGINT) AS kept_tokens,
         |       CAST(sum(ntok) AS BIGINT) AS total_tokens
         |FROM w GROUP BY source ORDER BY source""".stripMargin),

    // Rolling median/MAD anomaly flags on daily event volume — q201's
    // robust sibling: trailing-7-day integer median baseline, alarm at
    // |x − med| > 3·MAD, warm-up days NULL.
    Query("q208_rolling_mad", (s, dir) =>
      graft.operators.EventAnalytics.rollingMadAnomaly(
        graft.io.TableIO.eventsNanos(s, dir),
        graft.functions.floorDivLit(col("ts"), 86400000000000L), w = 7, k = 3)
        .orderBy("bucket"),
    // Trailing-7 list window (EXCLUDING current), single sorted-element
    // medians — integer-exact, warm-up rows NULL.
    oracle =
      """WITH h AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT bucket, x,
        |         list(x) OVER (ORDER BY bucket
        |           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS t
        |  FROM h),
        |m AS (
        |  SELECT bucket, x,
        |         CASE WHEN len(t) = 7
        |              THEN list_sort(t)[4] END AS med, t
        |  FROM w)
        |SELECT bucket, x, med,
        |       CASE WHEN med IS NOT NULL
        |            THEN list_sort(list_transform(t, v -> abs(v - med)))[4]
        |       END AS mad,
        |       CASE WHEN med IS NOT NULL
        |            THEN abs(x - med) >
        |                 list_sort(list_transform(t, v -> abs(v - med)))[4] * 3
        |       END AS alarm
        |FROM m ORDER BY bucket""".stripMargin),

    // Argmax-F1 operating point of the distilled classifier — one row
    // off the PR curve, ties toward the smaller threshold (more recall
    // at equal F1); the balanced complement to q184's precision floor.
    Query("q209_f1_point", (s, dir) =>
      graft.operators.Evaluation.f1OperatingPoint(distillScored(s, dir),
        "zq", "keep"),
    // q170's curve + F1, top-1 by (f1 DESC, threshold ASC).
    oracle =
      s"""WITH $oDistillScoredCtes,
         |hist AS (
         |  SELECT zq AS threshold, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM scored GROUP BY 1),
         |cum AS (
         |  SELECT threshold,
         |         CAST(sum(p) OVER (ORDER BY threshold DESC) AS BIGINT) AS tp,
         |         CAST(sum(c - p) OVER (ORDER BY threshold DESC) AS BIGINT) AS fp,
         |         CAST(sum(p) OVER () AS BIGINT) AS pall
         |  FROM hist),
         |pr AS (
         |  SELECT threshold, tp, fp, pall - tp AS fn,
         |         CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
         |         CASE WHEN pall > 0
         |              THEN CAST(tp AS DOUBLE) / CAST(pall AS DOUBLE)
         |         END AS recall,
         |         CASE WHEN 2 * tp + fp + (pall - tp) > 0
         |              THEN CAST(2 * tp AS DOUBLE)
         |                   / CAST(2 * tp + fp + (pall - tp) AS DOUBLE)
         |         END AS f1
         |  FROM cum)
         |SELECT * FROM pr ORDER BY f1 DESC, threshold LIMIT 1""".stripMargin),

    // Shard-balance audit: q104's hash-ordered equal shards, then each
    // shard's SOURCE mix diversity (q204's arithmetic per shard) — a
    // hash-ordered manifest should make every shard a fair mix; this
    // measures it.
    Query("q210_shard_balance", (s, dir) => {
      val h = pmod(pmod(col("doc_id").cast("long"), lit(2147483648L))
        * 2654435761L, lit(4294967296L))
      val sharded = graft.operators.GlobalIds.shardByOrder(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .withColumn("h", h),
        bucket = expr("h DIV 4194304"),
        order = Seq(col("h"), col("doc_id")),
        shardSize = 64)
      graft.operators.Profiling.diversityByGroup(sharded, "shard", "source")
        .orderBy("shard")
    },
    // q104's hash rank → 64-doc shards → q204's Simpson arithmetic per
    // shard.
    oracle =
      """WITH h AS (
        |  SELECT doc_id, source,
        |         (((doc_id % 2147483648) * 2654435761) % 4294967296) AS hh
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |         CAST((row_number() OVER (ORDER BY hh, doc_id) - 1) // 64
        |           AS BIGINT) AS shard
        |  FROM h),
        |g AS (
        |  SELECT shard, source, CAST(count(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2),
        |a AS (
        |  SELECT shard, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS n_classes,
        |         CAST(sum(c * c) AS BIGINT) AS simpson_num
        |  FROM g GROUP BY 1)
        |SELECT shard, n, n_classes, simpson_num,
        |       1.0 - CAST(simpson_num AS DOUBLE) / CAST(n * n AS DOUBLE)
        |         AS gini,
        |       CAST(n * n AS DOUBLE) / CAST(simpson_num AS DOUBLE)
        |         AS inv_simpson
        |FROM a ORDER BY shard""".stripMargin),

    // Exact phrase search over positional postings: each phrase word's
    // (doc, pos − i) rows equi-join on the aligned start — the
    // intersection never scans text, and selective words prune the
    // stream before the shuffle.
    Query("q211_phrase_search", (s, dir) =>
      graft.operators.InvertedIndex.phraseSearch(t(s, dir, "documents"),
        "doc_id", "text", Seq("fast", "table", "value"))
        .orderBy("doc_id"),
    // Positional postings: word i matches at aligned start pos − i; the
    // phrase is the 3-way (doc, start) intersection.
    oracle =
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oToks) AS t,
         |         unnest(range(len($oToks))) AS pos
         |  FROM documents),
         |p0 AS (SELECT doc_id, pos AS start FROM toks WHERE t = 'fast'),
         |p1 AS (SELECT doc_id, pos - 1 AS start FROM toks WHERE t = 'table'),
         |p2 AS (SELECT doc_id, pos - 2 AS start FROM toks WHERE t = 'value'),
         |hits AS (
         |  SELECT doc_id, start
         |  FROM p0 JOIN p1 USING (doc_id, start) JOIN p2 USING (doc_id, start))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |       CAST(min(start) AS BIGINT) AS first_pos
         |FROM hits GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Cross-validation variance read: the distilled classifier's exact
    // AUC per q203 FOLD — five stratified folds, five honest AUCs; the
    // spread is the metric's sampling noise (q188 slices by lang; this
    // slices by fold).
    Query("q212_cv_auc", (s, dir) => {
      val folds = Sampling.stratifiedKFold(
        t(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id",
        k = 5).select("doc_id", "fold")
      graft.operators.Evaluation.aucExactByGroup(
        distillScored(s, dir).join(folds, "doc_id"), "fold", "zq", "keep")
        .orderBy("fold")
    },
    // q203's fold assignment joined onto the scored set, then q188's
    // midrank AUC partitioned by fold.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |fh AS (
         |  SELECT lang, doc_id,
         |         (((doc_id % 2147483648) * 2654435761) % 4294967296) AS hh
         |  FROM documents),
         |fd AS (
         |  SELECT doc_id,
         |         CAST((row_number() OVER (PARTITION BY lang
         |           ORDER BY hh, doc_id) - 1) % 5 AS BIGINT) AS fold
         |  FROM fh),
         |sl AS (
         |  SELECT fd.fold, s.zq, s.keep
         |  FROM scored s JOIN fd USING (doc_id)),
         |hist AS (
         |  SELECT fold, zq AS s2, count(*) AS c,
         |         count(CASE WHEN keep THEN 1 END) AS p
         |  FROM sl GROUP BY 1, 2),
         |cum AS (
         |  SELECT fold, s2, c, p,
         |         sum(c) OVER (PARTITION BY fold ORDER BY s2) AS cum
         |  FROM hist),
         |a AS (
         |  SELECT fold, CAST(sum(p) AS BIGINT) AS n_pos,
         |         CAST(sum(c - p) AS BIGINT) AS n_neg,
         |         CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS r2
         |  FROM cum GROUP BY 1)
         |SELECT fold, n_pos, n_neg,
         |       r2 - n_pos * (n_pos + 1) AS auc_num,
         |       2 * n_pos * n_neg AS auc_den,
         |       CASE WHEN n_pos > 0 AND n_neg > 0
         |            THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |                 CAST(2 * n_pos * n_neg AS DOUBLE)
         |       END AS auc
         |FROM a ORDER BY fold""".stripMargin),

    // Collocation mining: adjacent-bigram LIFT (the word2vec phrase
    // score, exact rational — no log, no float accumulation); lift > 1
    // means the pair beats independence. Top-20 with a count floor.
    Query("q213_bigram_lift", (s, dir) =>
      graft.operators.Cooccur.bigramLift(t(s, dir, "documents"),
        "doc_id", "text", discount = 2L, minCount = 10L, topK = 20),
    // Exact-position adjacent bigrams; unigram margins; one division.
    oracle =
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oToks) AS w,
         |         unnest(range(len($oToks))) AS pos
         |  FROM documents),
         |bg AS (
         |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c_ab
         |  FROM toks a JOIN toks b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  GROUP BY 1, 2 HAVING count(*) >= 10),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
         |SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b, nn.n,
         |       CAST((c_ab - 2) * nn.n AS BIGINT) AS lift_num,
         |       CAST(ua.c * ub.c AS BIGINT) AS lift_den,
         |       CAST((c_ab - 2) * nn.n AS DOUBLE) /
         |         CAST(ua.c * ub.c AS DOUBLE) AS lift
         |FROM bg JOIN uni ua ON ua.w = bg.w1
         |        JOIN uni ub ON ub.w = bg.w2
         |        CROSS JOIN nn
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin),

    // Error bars on the AUC itself: 32 deterministic Poisson replicates
    // reweight the score histogram (shared draw with q182), midrank
    // formula on weighted counts — the confidence read under q169's
    // point estimate.
    Query("q214_auc_bootstrap", (s, dir) =>
      graft.operators.Evaluation.aucBootstrap(distillScored(s, dir),
        "doc_id", "zq", "keep", replicates = 32).orderBy("b"),
    // q182's replicate draw over the scored set, then q188's weighted
    // midrank cumulation partitioned by replicate.
    oracle = {
      val wCases = graft.operators.Sampling.PoissonCdf
        .map(c => s"(CASE WHEN h / CAST(4294967296 AS DOUBLE) >= CAST($c AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|         + ")
      s"""WITH $oDistillScoredCtes,
         |r AS (
         |  SELECT b.b, zq, keep,
         |         (((doc_id * 32 + b.b) % 2147483648) * 2654435761)
         |           % 4294967296 AS h
         |  FROM scored, range(32) b(b)),
         |w AS (
         |  SELECT b, zq, keep,
         |         $wCases AS w
         |  FROM r),
         |hist AS (
         |  SELECT b, zq AS s2, CAST(sum(w) AS BIGINT) AS c,
         |         CAST(sum(CASE WHEN keep THEN w ELSE 0 END) AS BIGINT) AS p
         |  FROM w GROUP BY 1, 2),
         |cum AS (
         |  SELECT b, s2, c, p,
         |         sum(c) OVER (PARTITION BY b ORDER BY s2) AS cum
         |  FROM hist),
         |a AS (
         |  SELECT b, CAST(sum(p) AS BIGINT) AS n_pos,
         |         CAST(sum(c - p) AS BIGINT) AS n_neg,
         |         CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS r2
         |  FROM cum GROUP BY 1)
         |SELECT CAST(b AS BIGINT) AS b, n_pos, n_neg,
         |       r2 - n_pos * (n_pos + 1) AS auc_num,
         |       2 * n_pos * n_neg AS auc_den,
         |       CASE WHEN n_pos > 0 AND n_neg > 0
         |            THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |                 CAST(2 * n_pos * n_neg AS DOUBLE)
         |       END AS auc
         |FROM a ORDER BY b""".stripMargin
    }),

    // First-order Markov transition matrix over per-user event streams:
    // what follows a view/click/purchase, with exact counts and one
    // division per row — the behavioral fingerprint.
    Query("q215_markov", (s, dir) =>
      graft.operators.EventAnalytics.transitionMatrix(
        graft.io.TableIO.eventsNanos(s, dir), "user_id",
        Seq(col("ts"), col("event_id")), "event_type")
        .orderBy("from_state", "to_state"),
    // lead() over the same (ts, event_id) total order per user; row
    // totals from the histogram.
    oracle =
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts), event_id) AS nxt
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS from_state, nxt AS to_state,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |rt AS (
        |  SELECT from_state, CAST(sum(cnt) AS BIGINT) AS row_total
        |  FROM tr GROUP BY 1)
        |SELECT tr.from_state, tr.to_state, tr.cnt, rt.row_total,
        |       CAST(tr.cnt AS DOUBLE) / CAST(rt.row_total AS DOUBLE) AS p
        |FROM tr JOIN rt USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin),

    // t-closeness per lang over the length distribution (ordered EMD
    // via cross-multiplied cumulative shares, one division per group) —
    // a group can pass k and l yet leak through its sensitive
    // DISTRIBUTION; this is that third audit.
    Query("q216_t_closeness", (s, dir) =>
      graft.operators.Privacy.tClosenessAudit(t(s, dir, "documents"),
        Seq("lang"), expr("n_chars DIV 100"), tMax = 0.2)
        .orderBy("lang"),
    // Ordered EMD over the global value ladder: grid = groups × ladder
    // (absent cells still contribute), cross-multiplied BIGINT terms,
    // one division per group.
    oracle =
      s"""WITH s AS (
         |  SELECT lang, CAST(n_chars // 100 AS BIGINT) AS v FROM documents),
         |$oTClosenessCtes
         |SELECT lang, group_size,
         |       CAST(sum(abs(cump * n - cumq * group_size)) AS BIGINT)
         |         AS t_num,
         |       CASE WHEN nv > 1
         |            THEN CAST(sum(abs(cump * n - cumq * group_size))
         |                   AS DOUBLE)
         |                 / CAST(group_size * n * (nv - 1) AS DOUBLE)
         |       END AS t,
         |       CASE WHEN nv > 1
         |            THEN CAST(sum(abs(cump * n - cumq * group_size))
         |                   AS DOUBLE)
         |                 / CAST(group_size * n * (nv - 1) AS DOUBLE) <= 0.2
         |       END AS t_close
         |FROM cc GROUP BY lang, group_size, n, nv
         |ORDER BY lang""".stripMargin),

    // Estimator accuracy of q138's priority sample: per-lang character
    // mass estimated from the 40-doc sample (Σ max(w, τ) over sample
    // members) vs the exact Σ n_chars — the subset-sum property the
    // sketch exists for, measured not asserted.
    Query("q217_priority_estimate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val samp = Sampling.prioritySample(docs, "doc_id", "n_chars", k = 40)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          sum("est_weight").as("est_chars"))
      docs.groupBy("lang")
        .agg(sum("n_chars").as("exact_chars"))
        .join(samp, Seq("lang"), "left")
        .select(col("lang"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          col("est_chars"), col("exact_chars"),
          (col("est_chars") / col("exact_chars").cast("double")).as("ratio"))
        .orderBy("lang")
    },
    // q138's priority CTEs grouped by lang, left-joined onto the exact
    // per-lang mass; languages missing from the sample report 0/NULL.
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
        |  SELECT coalesce(min(priority), 0.0) AS tau FROM rk WHERE rn = 41),
        |samp AS (
        |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |         sum(greatest(CAST(rk.n_chars AS DOUBLE), tau.tau))
        |           AS est_chars
        |  FROM rk CROSS JOIN tau JOIN documents d USING (doc_id)
        |  WHERE rn <= 40 GROUP BY 1),
        |ex AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS exact_chars
        |  FROM documents GROUP BY 1)
        |SELECT ex.lang, CAST(coalesce(samp.n_sampled, 0) AS BIGINT)
        |         AS n_sampled,
        |       samp.est_chars, ex.exact_chars,
        |       samp.est_chars / CAST(ex.exact_chars AS DOUBLE) AS ratio
        |FROM ex LEFT JOIN samp USING (lang)
        |ORDER BY lang""".stripMargin),

    // Functional-dependency audit: does l_orderkey determine o_custkey
    // (it must — FD holds through the FK) and does l_partkey determine
    // l_suppkey (it must NOT — parts ship from many suppliers)?
    // Violation mass = all rows of ambiguous determinants.
    Query("q218_fd_audit", (s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.Constraints.audit(Seq(
        graft.operators.Constraints.fdRule(
          li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey")),
          "fd:l_orderkey->o_custkey", Seq("l_orderkey"), "o_custkey"),
        graft.operators.Constraints.fdRule(li,
          "fd:l_partkey->l_suppkey", Seq("l_partkey"), "l_suppkey")))
    },
    // Two-level histograms per FD; ambiguous determinants contribute
    // all their rows.
    oracle =
      """WITH j AS (
        |  SELECT l.l_orderkey, o.o_custkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |fd1c AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT l_orderkey, o_custkey, count(*) FROM j GROUP BY 1, 2)
        |  GROUP BY 1),
        |fd1r AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS rows_
        |  FROM j GROUP BY 1),
        |fd1 AS (
        |  SELECT CAST(coalesce(sum(r.rows_), 0) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN c.c > 1 THEN r.rows_ END), 0)
        |           AS BIGINT) AS v
        |  FROM fd1r r JOIN fd1c c USING (l_orderkey)),
        |fd2c AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT l_partkey, l_suppkey, count(*) FROM lineitem
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |fd2r AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS rows_
        |  FROM lineitem GROUP BY 1),
        |fd2 AS (
        |  SELECT CAST(coalesce(sum(r.rows_), 0) AS BIGINT) AS n,
        |         CAST(coalesce(sum(CASE WHEN c.c > 1 THEN r.rows_ END), 0)
        |           AS BIGINT) AS v
        |  FROM fd2r r JOIN fd2c c USING (l_partkey))
        |SELECT * FROM (
        |  SELECT 'fd:l_orderkey->o_custkey' AS rule, n AS n_checked,
        |         v AS violations, v = 0 AS passed FROM fd1
        |  UNION ALL
        |  SELECT 'fd:l_partkey->l_suppkey', n, v, v = 0 FROM fd2)
        |ORDER BY rule""".stripMargin),
  )

  /** q142/q143's labeling functions: 1/0/NULL(abstain) rule votes from
    * integer-exact text signals.
    */
  private def weakLfs(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs.select(col("doc_id"),
      when(col("n_chars") >= 300, 1).when(col("n_chars") < 120, 0)
        .as("lf_len"),
      when(array_contains(toks, "the"), 1).otherwise(0).as("lf_the"),
      when(size(toks) > 0,
        when(size(array_distinct(toks)) * 2 >= size(toks), 1).otherwise(0))
        .as("lf_div"))
  }

  /** Oracle spelling of Dedup.powFixed's left-to-right square-and-multiply
    * x^e chain — the same association order, so every intermediate double
    * is the same correctly-rounded value and the result matches
    * bit-for-bit (libm `pow` would not).
    */
  private def oPowFixed(x: String, e: Int): String =
    Integer.toBinaryString(e).drop(1).foldLeft(x)((acc, bit) =>
      if (bit == '1') s"(($acc * $acc) * $x)" else s"($acc * $acc)")

  /** q142/q143's labeling functions (mirrors [[weakLfs]]). */
  private val oWeakLfs =
    s"""lf AS (
       |  SELECT doc_id,
       |         CASE WHEN n_chars >= 300 THEN 1
       |              WHEN n_chars < 120 THEN 0 END AS lf_len,
       |         CASE WHEN list_contains($oToks, 'the') THEN 1 ELSE 0 END AS lf_the,
       |         CASE WHEN len($oToks) > 0 THEN
       |           CASE WHEN len(list_distinct($oToks)) * 2 >= len($oToks)
       |                THEN 1 ELSE 0 END END AS lf_div
       |  FROM documents)""".stripMargin

  /** q179/q181's power-iteration matvec: w[a] = left-fold over b of
    * M[a][b]·v[b] — references `m` (from mm) and `v` (the iteration
    * state / fin).
    */
  private val oPowerW =
    """list_transform(range(64), a -> list_reduce(
      |  list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(range(64), b -> m[a+1][b+1] * v[b+1])),
      |  (x, y) -> x + y))""".stripMargin

  /** Shared spectral CTEs (q179/q181/q185): fixed-point Gram `mm`, the
    * 20-round power iteration `it`, and `fin(v)` — the engine's exact
    * driver-side fold order as a recursive CTE.
    *
    * ORACLE BUDGET (round 16): `mm` is MATERIALIZED because DuckDB 1.0
    * inlines multi-referenced CTEs — each of the 20 recursive `it`
    * steps (and q185's second, deflated iteration) otherwise re-builds
    * the whole Gram matrix, which is what made q185 a 53 s oracle. The
    * Gram sum itself is a zipped-unnest self-join (N×64 rows) instead
    * of per-row list extracts over a row × 64 × 64 cross product —
    * identical BIGINT sums, an order of magnitude cheaper.
    */
  private val oTopComponentCtes =
    s"""qv AS (
       |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> greatest(CAST(-67108864 AS BIGINT), least(CAST(67108864 AS BIGINT),
       |      CAST(floor(x * CAST(1048576 AS DOUBLE)) AS BIGINT)))) AS q
       |  FROM embeddings),
       |qx AS MATERIALIZED (
       |  SELECT rid, unnest(range(64)) AS i, unnest(q) AS qval
       |  FROM (SELECT row_number() OVER () AS rid, q FROM qv)),
       |mr AS (
       |  SELECT x.i AS a, y.i AS b,
       |    CAST(sum(x.qval * y.qval) AS BIGINT) AS mval
       |  FROM qx x JOIN qx y USING (rid)
       |  GROUP BY 1, 2),
       |mm AS MATERIALIZED (
       |  SELECT list(mrow ORDER BY a) AS m FROM (
       |    SELECT a, list(mval ORDER BY b) AS mrow FROM mr GROUP BY a)),
       |it(t, v) AS (
       |  SELECT 0, list_transform(range(64), x -> CAST(1.0 AS DOUBLE))
       |  UNION ALL
       |  SELECT t + 1,
       |         list_transform($oPowerW, wa -> wa / sqrt(list_reduce(
       |           list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform($oPowerW, wx -> wx * wx)),
       |           (x, y) -> x + y)))
       |  FROM it, mm WHERE t < 20),
       |fin AS (SELECT v FROM it WHERE t = 20)""".stripMargin
}
