package graft.queries

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis, TfIdf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryKit._

/** Statistical and event-analytics queries q219–q289:
  * CDC chunking, profile drift, hypothesis tests, survival and
  * seasonality, cohort and funnel analytics, the graph datasheet and
  * hub-removal reads.
  */
object AnalyticsQueries {

  lazy val all: Seq[Query] = Seq(
    // Padding-waste audit: batches of 32 in arrival order vs
    // length-sorted order — padded slots per batch = Σ(count·max − sum)
    // over token counts, the "why length-bucket your batches" number
    // (and the baseline context packing beats). Histogram-offset
    // ordinals; everything after is batch-bounded.
    Query("q219_padding_waste", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ntok"))
      def waste(strategy: String, bucket: org.apache.spark.sql.Column,
                order: Seq[org.apache.spark.sql.Column]) =
        graft.operators.GlobalIds.contiguousIds(docs, bucket, order, "ord")
          .withColumn("batch", expr("ord DIV 32"))
          .groupBy("batch")
          .agg(count(lit(1)).as("c"), max("ntok").as("mx"),
            sum("ntok").as("tok"))
          .agg(count(lit(1)).as("n_batches"),
            sum("tok").as("total_tokens"),
            sum(col("c") * col("mx") - col("tok")).as("padding_waste"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("total_tokens"), col("padding_waste"),
            (col("padding_waste").cast("double") /
              (col("padding_waste") + col("total_tokens")).cast("double"))
              .as("waste_ratio"))
      waste("arrival", expr("doc_id DIV 64"), Seq(col("doc_id")))
        .unionByName(waste("length_sorted", col("ntok"),
          Seq(col("ntok"), col("doc_id"))))
        .orderBy("strategy")
    },
    // Batches of 32 along each order; waste = Σ(count·max − sum).
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($oToks) AS BIGINT) AS ntok
         |  FROM documents),
         |a AS (
         |  SELECT ntok,
         |         CAST((row_number() OVER (ORDER BY doc_id) - 1) // 32
         |           AS BIGINT) AS batch
         |  FROM d),
         |ab AS (
         |  SELECT batch, CAST(count(*) AS BIGINT) AS c,
         |         CAST(max(ntok) AS BIGINT) AS mx,
         |         CAST(sum(ntok) AS BIGINT) AS tok
         |  FROM a GROUP BY 1),
         |aa AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_batches,
         |         CAST(sum(tok) AS BIGINT) AS total_tokens,
         |         CAST(sum(c * mx - tok) AS BIGINT) AS padding_waste
         |  FROM ab),
         |l AS (
         |  SELECT ntok,
         |         CAST((row_number() OVER (ORDER BY ntok, doc_id) - 1) // 32
         |           AS BIGINT) AS batch
         |  FROM d),
         |lb AS (
         |  SELECT batch, CAST(count(*) AS BIGINT) AS c,
         |         CAST(max(ntok) AS BIGINT) AS mx,
         |         CAST(sum(ntok) AS BIGINT) AS tok
         |  FROM l GROUP BY 1),
         |la AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_batches,
         |         CAST(sum(tok) AS BIGINT) AS total_tokens,
         |         CAST(sum(c * mx - tok) AS BIGINT) AS padding_waste
         |  FROM lb)
         |SELECT * FROM (
         |  SELECT 'arrival' AS strategy, n_batches, total_tokens,
         |         padding_waste,
         |         CAST(padding_waste AS DOUBLE) /
         |           CAST(padding_waste + total_tokens AS DOUBLE)
         |           AS waste_ratio
         |  FROM aa
         |  UNION ALL
         |  SELECT 'length_sorted', n_batches, total_tokens, padding_waste,
         |         CAST(padding_waste AS DOUBLE) /
         |           CAST(padding_waste + total_tokens AS DOUBLE)
         |  FROM la)
         |ORDER BY strategy""".stripMargin),

    // Content-defined chunking + chunk-level dedup accounting: the
    // rsync/LBFS boundary rule over the token stream (cut when the
    // rolling 4-gram hash ≡ 0 mod 16), then how much token mass lives
    // in REPEATED chunks — the storage-dedup / delta-sync read, and a
    // sub-document complement to doc-level dedup.
    Query("q220_cdc_chunks", (s, dir) => {
      val ch = graft.operators.Chunking.contentDefinedChunks(
        t(s, dir, "documents"), "doc_id", "text", n = 4, maskBits = 4)
      ch.groupBy("digest", "n_tokens").agg(count(lit(1)).as("c"))
        .agg(sum("c").as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"),
          sum(col("c") * col("n_tokens")).as("total_tokens"),
          sum((col("c") - 1) * col("n_tokens")).as("dup_tokens"))
        .withColumn("dup_ratio",
          col("dup_tokens").cast("double") /
            col("total_tokens").cast("double"))
    },
    // Long-form CDC: gram hashes at their END token, cut flags, chunk
    // id = shifted cumulative cut count, digests of ORDER BY p joined
    // chunk text — identical arithmetic to the engine's array-side plan.
    oracle =
      s"""WITH ${oCdcChunkCtes("", "SELECT doc_id, text FROM documents")},
         |hist AS (
         |  SELECT digest, n_tokens, CAST(count(*) AS BIGINT) AS c
         |  FROM ch GROUP BY 1, 2)
         |SELECT CAST(sum(c) AS BIGINT) AS n_chunks,
         |       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         |       CAST(sum(c * n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(sum((c - 1) * n_tokens) AS BIGINT) AS dup_tokens,
         |       CAST(sum((c - 1) * n_tokens) AS DOUBLE) /
         |         CAST(sum(c * n_tokens) AS DOUBLE) AS dup_ratio
         |FROM hist""".stripMargin),

    // Delta-sync estimate between two snapshots (one doc edited): CDC
    // chunk content v2 anti-joined on v1 — ship only chunks whose
    // digest is new. The one-word edit moves ~one chunk of ~27k tokens;
    // THIS is why the boundaries are content-defined.
    Query("q221_delta_sync", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v2docs = docs.withColumn("text",
        when(col("doc_id") === 7, concat(col("text"), lit(" EDITED")))
          .otherwise(col("text")))
      def chunks(d: DataFrame) = graft.operators.Chunking
        .contentDefinedChunks(d, "doc_id", "text", n = 4, maskBits = 4)
      val v1 = chunks(docs).select("digest").distinct()
      val v2d = chunks(v2docs).groupBy("digest")
        .agg(min("n_tokens").as("n_tokens"), count(lit(1)).as("c"))
      val tot = v2d.agg(sum("c").as("n_chunks_v2"),
        sum(col("c") * col("n_tokens")).as("tokens_v2"))
      val fresh = v2d.join(v1, Seq("digest"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_new_chunks"),
          coalesce(sum("n_tokens"), lit(0L)).as("new_tokens"))
      tot.crossJoin(fresh)
        .withColumn("transfer_ratio",
          col("new_tokens").cast("double") / col("tokens_v2").cast("double"))
        .select("n_chunks_v2", "tokens_v2", "n_new_chunks", "new_tokens",
          "transfer_ratio")
    },
    // Two chunk chains (v1 = corpus, v2 = one edited doc), anti-joined
    // on digest content.
    oracle =
      s"""WITH ${oCdcChunkCtes("1", "SELECT doc_id, text FROM documents")},
         |${oCdcChunkCtes("2",
            "SELECT doc_id, CASE WHEN doc_id = 7 THEN text || ' EDITED' " +
              "ELSE text END AS text FROM documents")},
         |v1 AS (SELECT DISTINCT digest FROM ch1),
         |v2d AS (
         |  SELECT digest, CAST(min(n_tokens) AS BIGINT) AS n_tokens,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM ch2 GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_chunks_v2,
         |         CAST(sum(c * n_tokens) AS BIGINT) AS tokens_v2
         |  FROM v2d),
         |new_ AS (
         |  SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS n_new_chunks,
         |         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS new_tokens
         |  FROM v2d LEFT JOIN v1 USING (digest) WHERE v1.digest IS NULL)
         |SELECT n_chunks_v2, tokens_v2, n_new_chunks, new_tokens,
         |       CAST(new_tokens AS DOUBLE) / CAST(tokens_v2 AS DOUBLE)
         |         AS transfer_ratio
         |FROM tot CROSS JOIN new_""".stripMargin),

    // Snapshot drift diff over the q199 profile: two per-column profile
    // tables joined on column name — NDV/row/completeness deltas and an
    // exact-arithmetic drift flag, the |cols|-row release comparison the
    // profiler exists for (v2 simulates a partial snapshot).
    Query("q222_profile_drift", (s, dir) => {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag",
        "l_shipdate")
      val v1 = t(s, dir, "lineitem")
      val v2 = v1.filter(col("l_quantity") <= 45)
      def prof(d: DataFrame, sfx: String) =
        graft.operators.Profiling.columnProfile(d, cols)
          .select(col("column"), col("n_rows").as(s"n_rows_$sfx"),
            col("n_distinct").as(s"ndv_$sfx"),
            col("completeness").as(s"comp_$sfx"))
      prof(v1, "v1").join(prof(v2, "v2"), "column")
        .withColumn("row_delta", col("n_rows_v2") - col("n_rows_v1"))
        .withColumn("ndv_delta", col("ndv_v2") - col("ndv_v1"))
        .withColumn("comp_delta", col("comp_v2") - col("comp_v1"))
        .withColumn("drifted",
          abs(col("ndv_delta")) * 10 > col("ndv_v1") ||
            col("comp_delta") =!= 0.0)
        .orderBy("column")
    },
    // Two q199 profile chains over v1/v2 joined per column; exact
    // integer drift test (|Δndv|·10 > ndv_v1) plus the completeness
    // delta.
    oracle = {
      def block(c: String, src: String, sfx: String) =
        s"""SELECT '$c' AS "column",
           |       CAST(count(*) AS BIGINT) AS n_rows_$sfx,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS ndv_$sfx,
           |       CAST(count($c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |         AS comp_$sfx
           |FROM $src""".stripMargin
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag",
        "l_shipdate")
      val p1 = cols.map(block(_, "lineitem", "v1"))
        .mkString("(\n", "\nUNION ALL\n", ")")
      val p2 = cols
        .map(block(_, "(SELECT * FROM lineitem WHERE l_quantity <= 45)",
          "v2"))
        .mkString("(\n", "\nUNION ALL\n", ")")
      s"""SELECT p1."column", n_rows_v1, ndv_v1, comp_v1,
         |       n_rows_v2, ndv_v2, comp_v2,
         |       n_rows_v2 - n_rows_v1 AS row_delta,
         |       ndv_v2 - ndv_v1 AS ndv_delta,
         |       comp_v2 - comp_v1 AS comp_delta,
         |       abs(ndv_v2 - ndv_v1) * 10 > ndv_v1
         |         OR comp_v2 - comp_v1 <> 0.0 AS drifted
         |FROM $p1 p1 JOIN $p2 p2 USING ("column")
         |ORDER BY p1."column"""".stripMargin
    }),

    // Per-TYPE CUSUM monitors: each event type's detector centered on
    // its own mean, so a big stream never drowns a small one's shift —
    // q201 partitioned by group.
    Query("q223_cusum_by_type", (s, dir) =>
      graft.operators.EventAnalytics.cusumCountsByGroup(
        graft.io.TableIO.eventsNanos(s, dir), col("event_type"),
        graft.functions.floorDivLit(col("ts"), 86400000000000L), alarmH = 1)
        .orderBy("group", "bucket"),
    // q201's CUSUM windows partitioned by event type.
    oracle =
      """WITH h AS (
        |  SELECT event_type AS grp,
        |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS t
        |  FROM h GROUP BY 1),
        |p AS (
        |  SELECT h.grp, bucket, x, t,
        |         CAST(sum(x * n - t) OVER (PARTITION BY h.grp
        |           ORDER BY bucket) AS BIGINT) AS pf
        |  FROM h JOIN tot USING (grp)),
        |s AS (
        |  SELECT grp, bucket, x, t,
        |         CAST(pf - least(CAST(0 AS BIGINT),
        |           min(pf) OVER (PARTITION BY grp ORDER BY bucket))
        |           AS BIGINT) AS cusum_scaled
        |  FROM p)
        |SELECT grp AS "group", bucket, x, cusum_scaled,
        |       cusum_scaled > t * 1 AS alarm
        |FROM s ORDER BY "group", bucket""".stripMargin),

    // Top journey prefixes: the most common first-3 event-type
    // sequences per user — path analysis next to q109's one-hypothesis
    // funnel and q215's one-step transitions.
    Query("q224_top_paths", (s, dir) =>
      graft.operators.EventAnalytics.topPaths(
        graft.io.TableIO.eventsNanos(s, dir), "user_id",
        Seq(col("ts"), col("event_id")), "event_type",
        depth = 3, topK = 25),
    // First-3 prefix per user via ranked rows; path = ordered
    // string_agg; identical path strings share a depth by construction.
    oracle =
      """WITH r AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
        |         CAST(count(*) AS BIGINT) AS d
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, CAST(min(d) AS BIGINT) AS depth,
        |       CAST(count(*) AS BIGINT) AS n_keys
        |FROM p GROUP BY 1 ORDER BY n_keys DESC, path LIMIT 25""".stripMargin),

    // Right-to-be-forgotten propagation audit: after deleting a doc
    // set from the primary, derived artifacts (CDC chunks, dedup
    // signatures, fold assignments) built from the PRE-delete corpus
    // still reference the deleted ids — one residue row per artifact,
    // the governance check that flags stale derived tables.
    Query("q225_delete_audit", (s, dir) => {
      val docs = t(s, dir, "documents")
      val dels = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("__del"))
      def row(name: String, d: DataFrame, idc: String) =
        d.join(broadcast(dels), col(idc) === col("__del"), "left")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("__del").isNotNull, 1L)).as("n_residue"))
          .select(lit(name).as("artifact"), col("n_rows"),
            col("n_residue"), (col("n_residue") === 0L).as("clean"))
      row("cdc_chunks",
        graft.operators.Chunking.contentDefinedChunks(docs, "doc_id",
          "text", n = 4, maskBits = 4), "doc_id")
        .unionByName(row("signatures",
          Dedup.wideSignatures(docs, "doc_id", "text"), "id"))
        .unionByName(row("kfold",
          Sampling.stratifiedKFold(docs.select("doc_id", "lang"), "lang",
            "doc_id", 5), "doc_id"))
        .orderBy("artifact")
    },
    // The three derived artifacts recomputed in SQL, each left-joined
    // on the delete set (doc_id % 97 = 0).
    oracle = {
      val kfold =
        """SELECT doc_id FROM (
          |  SELECT doc_id FROM (
          |    SELECT lang, doc_id,
          |           (((doc_id % 2147483648) * 2654435761) % 4294967296)
          |             AS hh
          |    FROM documents) h)""".stripMargin
      s"""WITH dels AS (
         |  SELECT doc_id AS del_id FROM documents WHERE doc_id % 97 = 0),
         |${oCdcChunkCtes("", "SELECT doc_id, text FROM documents")},
         |a1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(del_id) AS BIGINT) AS n_residue
         |  FROM ch LEFT JOIN dels ON ch.doc_id = dels.del_id),
         |a2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(del_id) AS BIGINT) AS n_residue
         |  FROM documents d LEFT JOIN dels ON d.doc_id = dels.del_id),
         |kf AS ($kfold),
         |a3 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(count(del_id) AS BIGINT) AS n_residue
         |  FROM kf LEFT JOIN dels ON kf.doc_id = dels.del_id)
         |SELECT * FROM (
         |  SELECT 'cdc_chunks' AS artifact, n_rows, n_residue,
         |         n_residue = 0 AS clean FROM a1
         |  UNION ALL SELECT 'signatures', n_rows, n_residue,
         |         n_residue = 0 FROM a2
         |  UNION ALL SELECT 'kfold', n_rows, n_residue,
         |         n_residue = 0 FROM a3)
         |ORDER BY artifact""".stripMargin
    }),

    // Per-TYPE rolling-MAD monitors — q208 partitioned by group, the
    // robust sibling of q223's per-type CUSUM.
    Query("q227_mad_by_type", (s, dir) =>
      graft.operators.EventAnalytics.rollingMadAnomalyByGroup(
        graft.io.TableIO.eventsNanos(s, dir), col("event_type"),
        graft.functions.floorDivLit(col("ts"), 86400000000000L), w = 7, k = 3)
        .orderBy("group", "bucket"),
    // q208's list windows partitioned by type.
    oracle =
      """WITH h AS (
        |  SELECT event_type AS grp,
        |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT grp, bucket, x,
        |         list(x) OVER (PARTITION BY grp ORDER BY bucket
        |           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS t
        |  FROM h),
        |m AS (
        |  SELECT grp, bucket, x,
        |         CASE WHEN len(t) = 7
        |              THEN list_sort(t)[4] END AS med, t
        |  FROM w)
        |SELECT grp AS "group", bucket, x, med,
        |       CASE WHEN med IS NOT NULL
        |            THEN list_sort(list_transform(t, v -> abs(v - med)))[4]
        |       END AS mad,
        |       CASE WHEN med IS NOT NULL
        |            THEN abs(x - med) >
        |                 list_sort(list_transform(t, v -> abs(v - med)))[4] * 3
        |       END AS alarm
        |FROM m ORDER BY "group", bucket""".stripMargin),

    // Cramér's V over (source, lang): q173's cells reduced to the one
    // normalized association number — fixed-point cell sum (exact
    // BIGINT), one sqrt.
    Query("q228_cramers_v", (s, dir) =>
      graft.operators.Profiling.cramersV(t(s, dir, "documents"),
        "source", "lang"),
    // q173's grid cells, each contrib quantized to 2^30 before the
    // exact sum; one sqrt at the end.
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
        |q AS (
        |  SELECT n,
        |         CAST(floor(
        |           (CAST(o * n - rt * ct AS DOUBLE) *
        |            CAST(o * n - rt * ct AS DOUBLE)) /
        |           (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
        |           * 1073741824) AS BIGINT) AS cq,
        |         source, lang
        |  FROM fl),
        |a AS (
        |  SELECT CAST(min(n) AS BIGINT) AS n,
        |         CAST(count(DISTINCT source) AS BIGINT) AS r,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS c,
        |         CAST(sum(cq) AS BIGINT) AS chi2_fp
        |  FROM q)
        |SELECT n, r, c, chi2_fp,
        |       CAST(chi2_fp AS DOUBLE) / 1073741824 AS chi2,
        |       CASE WHEN least(r - 1, c - 1) > 0
        |            THEN sqrt((CAST(chi2_fp AS DOUBLE) / 1073741824
        |                       / CAST(n AS DOUBLE))
        |                      / CAST(least(r - 1, c - 1) AS DOUBLE))
        |       END AS v
        |FROM a""".stripMargin),

    // The data-quality families composed into ONE release verdict row
    // (the q166/q184 discipline over this round's audits): integrity
    // (doc_id unique + text complete), privacy (every lang t-close),
    // balance (every source's effective language count), duplication
    // (wide-tier pair mass) — booleans + the numbers behind them, one
    // plan.
    Query("q230_quality_verdict", (s, dir) => {
      val docs = graft.operators.CacheScope.track(t(s, dir, "documents"))
      val cons = graft.operators.Constraints.audit(Seq(
        graft.operators.Constraints.rowRules(docs, Seq(
          ("complete:text", col("text").isNull))),
        graft.operators.Constraints.uniqueRule(docs, "unique:doc_id",
          Seq("doc_id"))))
        .agg(count(lit(1)).as("n_rules"),
          count(when(!col("passed"), 1L)).as("rules_failed"))
      val tc = graft.operators.Privacy.tClosenessAudit(docs, Seq("lang"),
        expr("n_chars DIV 100"), tMax = 0.2)
        .agg(count(when(!col("t_close"), 1L)).as("langs_leaking"),
          max("t").as("max_t"))
      val div = graft.operators.Profiling.diversityByGroup(docs, "source",
        "lang")
        .agg(min("inv_simpson").as("min_inv_simpson"))
      val dups = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 2)
        .agg(count(lit(1)).as("dup_pairs"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      n.crossJoin(cons).crossJoin(tc).crossJoin(div).crossJoin(dups)
        .withColumn("ship",
          col("rules_failed") === 0 && col("langs_leaking") === 0 &&
            col("min_inv_simpson") >= 1.5 &&
            col("dup_pairs") * 20 < col("n_docs"))
    },
    // One-row composition of the audit oracles: rules, t-closeness,
    // diversity, wide pairs — cross-joined scalars.
    oracle =
      s"""WITH cons AS (
         |  SELECT CAST(2 AS BIGINT) AS n_rules,
         |         CAST((CASE WHEN count(CASE WHEN text IS NULL THEN 1 END) > 0
         |                THEN 1 ELSE 0 END) +
         |              (CASE WHEN count(*) > count(DISTINCT doc_id)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS rules_failed
         |  FROM documents),
         |s AS (SELECT lang, CAST(n_chars // 100 AS BIGINT) AS v
         |      FROM documents),
         |$oTClosenessCtes,
         |tl AS (
         |  SELECT lang,
         |         CAST(sum(abs(cump * n - cumq * group_size)) AS DOUBLE)
         |           / CAST(group_size * n * (nv - 1) AS DOUBLE) AS t
         |  FROM cc GROUP BY lang, group_size, n, nv),
         |tc AS (
         |  SELECT CAST(count(CASE WHEN NOT (t <= 0.2) THEN 1 END) AS BIGINT)
         |           AS langs_leaking,
         |         max(t) AS max_t
         |  FROM tl),
         |dh AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
         |       FROM documents GROUP BY 1, 2),
         |da AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |         CAST(sum(c * c) AS BIGINT) AS sq
         |  FROM dh GROUP BY 1),
         |div_ AS (
         |  SELECT min(CAST(n * n AS DOUBLE) / CAST(sq AS DOUBLE))
         |           AS min_inv_simpson
         |  FROM da),
         |${oWideSimhashCtes()},
         |dp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS dup_pairs
         |  FROM wide a JOIN wide b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT nn.n_docs, cons.n_rules, cons.rules_failed,
         |       tc.langs_leaking, tc.max_t, div_.min_inv_simpson,
         |       dp.dup_pairs,
         |       cons.rules_failed = 0 AND tc.langs_leaking = 0
         |         AND div_.min_inv_simpson >= 1.5
         |         AND dp.dup_pairs * 20 < nn.n_docs AS ship
         |FROM nn CROSS JOIN cons CROSS JOIN tc CROSS JOIN div_
         |CROSS JOIN dp""".stripMargin),

    // Embedding distribution drift: per-dimension fixed-point stats of
    // the corpus vs a partial snapshot (every 11th vector dropped),
    // joined per dim — the embedding-space monitor next to q140's
    // categorical TVD and q190's KS.
    Query("q229_embed_drift", (s, dir) => {
      val v1 = t(s, dir, "embeddings")
      val v2 = v1.filter(col("vec_id") % 11 =!= 0)
      def d(df: DataFrame, sfx: String) =
        graft.operators.EmbeddingStats.dimensionStats(df, "embedding")
          .select(col("dim"), col("n").as(s"n_$sfx"),
            col("sum_fixed").as(s"sum_$sfx"),
            col("mean").as(s"mean_$sfx"), col("std").as(s"std_$sfx"))
      d(v1, "v1").join(d(v2, "v2"), "dim")
        .withColumn("mean_shift", col("mean_v2") - col("mean_v1"))
        .orderBy("dim")
    },
    // Two q158 chains (full vs every-11th-dropped) joined per dim.
    oracle = {
      def chain(sfx: String, where: String) =
        s"""ev$sfx AS (
           |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings $where),
           |px$sfx AS (
           |  SELECT t.i AS dim, v[t.i + 1] AS x FROM ev$sfx, range(64) t(i)),
           |fx$sfx AS (
           |  SELECT dim, CAST(floor(x * 1048576) AS BIGINT) AS f
           |  FROM px$sfx),
           |ag$sfx AS (
           |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(f) AS BIGINT) AS s,
           |         CAST(sum(CAST(floor(x * x * 1048576) AS BIGINT)) AS BIGINT)
           |           AS s2
           |  FROM (SELECT dim, x, CAST(floor(x * 1048576) AS BIGINT) AS f
           |        FROM px$sfx) GROUP BY 1)""".stripMargin
      def stats(sfx: String) =
        s"""SELECT dim, n AS n_$sfx, s AS sum_$sfx,
           |       CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
           |         AS mean_$sfx,
           |       sqrt(greatest(0.0,
           |         (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
           |          CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 1048576) /
           |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1048576)))
           |         AS std_$sfx
           |FROM ag$sfx""".stripMargin
      s"""WITH ${chain("1", "")},
         |${chain("2", "WHERE vec_id % 11 <> 0")},
         |s1 AS (${stats("1")}),
         |s2 AS (${stats("2")})
         |SELECT s1.dim, n_1 AS n_v1, sum_1 AS sum_v1, mean_1 AS mean_v1,
         |       std_1 AS std_v1, n_2 AS n_v2, sum_2 AS sum_v2,
         |       mean_2 AS mean_v2, std_2 AS std_v2,
         |       mean_2 - mean_1 AS mean_shift
         |FROM s1 JOIN s2 ON s1.dim = s2.dim
         |ORDER BY s1.dim""".stripMargin
    }),

    // Cumulative gain/lift table of the distilled classifier: what the
    // top decile of scores captures vs random — the triage read that
    // turns q169's AUC into an operating decision. Exact ordinals
    // (histogram-offset, tie-broken by doc_id), BIGINT counts, one
    // division per ratio.
    Query("q231_decile_lift", (s, dir) =>
      graft.operators.Evaluation.decileLift(distillScored(s, dir),
        "doc_id", "zq", "keep").orderBy("decile"),
    // Exact descending-rank ordinals (row_number − 1, ties by doc_id),
    // balanced bucket = (ord·10) // N, then cumulative BIGINT counts;
    // one division per ratio.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM scored),
         |rk AS (
         |  SELECT keep,
         |         CAST(row_number() OVER (ORDER BY zq DESC, doc_id) - 1
         |           AS BIGINT) AS ord
         |  FROM scored),
         |dec AS (
         |  SELECT CAST((ord * 10) // nn AS BIGINT) AS decile, keep
         |  FROM rk, tot),
         |h AS (
         |  SELECT decile, CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_pos
         |  FROM dec GROUP BY 1),
         |c AS (
         |  SELECT decile, n, n_pos,
         |         CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         |         CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT)
         |           AS cum_pos,
         |         CAST(sum(n_pos) OVER () AS BIGINT) AS p,
         |         CAST(sum(n) OVER () AS BIGINT) AS nall
         |  FROM h)
         |SELECT decile, n, n_pos, cum_n, cum_pos,
         |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
         |       CASE WHEN p > 0
         |            THEN CAST(cum_pos AS DOUBLE) / CAST(p AS DOUBLE)
         |       END AS cum_gain,
         |       CASE WHEN p > 0
         |            THEN CAST(cum_pos * nall AS DOUBLE) /
         |                 CAST(cum_n * p AS DOUBLE)
         |       END AS lift
         |FROM c ORDER BY decile""".stripMargin),

    // Split-conformal acceptance gate on the same scores: threshold =
    // k-th smallest calibration-positive score, k = ⌊α(n+1)⌋ at α=1/10
    // — a distribution-free ≥90% keep-coverage guarantee, then the
    // measured coverage and the bad-doc pass rate it costs on the held
    // split.
    Query("q232_conformal_gate", (s, dir) =>
      graft.operators.Evaluation.conformalGate(distillScored(s, dir),
        "doc_id", "zq", "keep", calPct = 50, alphaNum = 1, alphaDen = 10)
        .orderBy("threshold"),
    // q99's hash-bucket split, the k-th-smallest calibration-positive
    // score as min(s) where ascending cum ≥ k = (n_cal+1) // 10, then
    // held-split coverage/pass counts — BIGINTs + one division each.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |b AS (
         |  SELECT doc_id, zq, keep,
         |         (((doc_id % 2147483648) * 2654435761) % 4294967296)
         |           % 100 < 50 AS cal
         |  FROM scored),
         |ch AS (
         |  SELECT zq AS s, CAST(count(*) AS BIGINT) AS c
         |  FROM b WHERE cal AND keep GROUP BY 1),
         |cc AS (
         |  SELECT s, CAST(sum(c) OVER (ORDER BY s) AS BIGINT) AS cum,
         |         CAST(sum(c) OVER () AS BIGINT) AS ncal
         |  FROM ch),
         |caln AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cal
         |  FROM b WHERE cal AND keep),
         |thr AS (
         |  SELECT min(s) AS t FROM cc
         |  WHERE cum >= (ncal + 1) // 10 AND (ncal + 1) // 10 >= 1),
         |tst AS (
         |  SELECT CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT)
         |           AS n_test_pos,
         |         CAST(count(CASE WHEN keep AND (t IS NULL OR zq >= t)
         |                         THEN 1 END) AS BIGINT) AS n_test_cov,
         |         CAST(count(CASE WHEN NOT keep THEN 1 END) AS BIGINT)
         |           AS n_test_neg,
         |         CAST(count(CASE WHEN NOT keep AND (t IS NULL OR zq >= t)
         |                         THEN 1 END) AS BIGINT) AS n_neg_pass,
         |         min(t) AS threshold
         |  FROM b, thr WHERE NOT cal)
         |SELECT n_cal, CAST((n_cal + 1) // 10 AS BIGINT) AS k, threshold,
         |       n_test_pos, n_test_cov,
         |       CASE WHEN n_test_pos > 0
         |            THEN CAST(n_test_cov AS DOUBLE) /
         |                 CAST(n_test_pos AS DOUBLE) END AS coverage,
         |       n_test_neg, n_neg_pass,
         |       CASE WHEN n_test_neg > 0
         |            THEN CAST(n_neg_pass AS DOUBLE) /
         |                 CAST(n_test_neg AS DOUBLE) END AS neg_pass_rate
         |FROM caln, tst""".stripMargin),

    // Lorenz-Gini concentration of character mass per source: is a
    // source's corpus spread across its documents or held by a few
    // giants — the inequality read a mixing/budget stage wants next to
    // q204's diversity. Histogram-exact rank sums, BIGINT + one
    // division.
    Query("q233_gini_chars", (s, dir) =>
      graft.operators.Profiling.lorenzGiniByGroup(
        t(s, dir, "documents"), "source", col("n_chars"))
        .orderBy("source"),
    // Histogram rank-sum identity: a run of c copies of v after cum0
    // predecessors contributes v·(c·cum0 + c(c+1)/2) to Σ rank·x;
    // G = (2·ranksum − (n+1)·total) / (n·total).
    oracle =
      """WITH h AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
        |  GROUP BY 1, 2),
        |cc AS (
        |  SELECT source, v, c,
        |         CAST(COALESCE(sum(c) OVER (PARTITION BY source ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum0
        |  FROM h),
        |a AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(sum(v * c) AS BIGINT) AS total,
        |         CAST(sum(v * (c * cum0 + c * (c + 1) // 2)) AS BIGINT)
        |           AS rank_sum
        |  FROM cc GROUP BY 1)
        |SELECT source, n, total, rank_sum,
        |       CASE WHEN total > 0
        |            THEN CAST(2 * rank_sum - (n + 1) * total AS DOUBLE) /
        |                 CAST(n * total AS DOUBLE) END AS gini
        |FROM a ORDER BY source""".stripMargin),

    // Benford first-digit audit over order prices (whole-currency
    // magnitudes): per-digit observed vs log10(1+1/d), χ² from
    // fixed-point terms — the numeric-forensics sibling of q140's
    // categorical drift. No float log anywhere: digits come from BIGINT
    // decimal strings, expectations are literals.
    Query("q234_benford", (s, dir) =>
      graft.operators.Profiling.benfordAudit(
        t(s, dir, "orders"), floor(col("o_totalprice")))
        .orderBy("digit"),
    // Leading digit from the BIGINT's decimal string (engine-identical
    // integer formatting — no float log10); Benford expectations as
    // literal doubles; χ² terms quantized to 2^30 before the 9-row sum.
    oracle =
      """WITH e(digit, expected_p) AS (VALUES
        |  (1, CAST(0.3010299956639812 AS DOUBLE)),
        |  (2, CAST(0.17609125905568124 AS DOUBLE)),
        |  (3, CAST(0.12493873660829992 AS DOUBLE)),
        |  (4, CAST(0.09691001300805642 AS DOUBLE)),
        |  (5, CAST(0.07918124604762482 AS DOUBLE)),
        |  (6, CAST(0.06694678963061322 AS DOUBLE)),
        |  (7, CAST(0.05799194697768673 AS DOUBLE)),
        |  (8, CAST(0.05115252244738129 AS DOUBLE)),
        |  (9, CAST(0.04575749056067514 AS DOUBLE))),
        |v AS (
        |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND CAST(floor(o_totalprice) AS BIGINT) > 0),
        |cnt AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |         CAST(count(*) AS BIGINT) AS observed
        |  FROM v GROUP BY 1),
        |j AS (
        |  SELECT e.digit, e.expected_p,
        |         CAST(COALESCE(cnt.observed, 0) AS BIGINT) AS observed
        |  FROM e LEFT JOIN cnt ON e.digit = cnt.digit),
        |w AS (
        |  SELECT digit, observed, expected_p,
        |         CAST(sum(observed) OVER () AS BIGINT) AS n
        |  FROM j),
        |tm AS (
        |  SELECT digit, observed, n, expected_p,
        |         CAST(floor((CAST(observed AS DOUBLE) -
        |             expected_p * CAST(n AS DOUBLE)) *
        |           (CAST(observed AS DOUBLE) -
        |             expected_p * CAST(n AS DOUBLE)) /
        |           (expected_p * CAST(n AS DOUBLE)) *
        |           CAST(1073741824.0 AS DOUBLE)) AS BIGINT) AS term_fp
        |  FROM w)
        |SELECT digit, observed, n,
        |       CAST(observed AS DOUBLE) / CAST(n AS DOUBLE) AS obs_p,
        |       expected_p, term_fp,
        |       CAST(sum(term_fp) OVER () AS BIGINT) AS chi2_fp,
        |       CAST(CAST(sum(term_fp) OVER () AS BIGINT) AS DOUBLE) /
        |         CAST(1073741824.0 AS DOUBLE) AS chi2
        |FROM tm ORDER BY digit""".stripMargin),

    // One-way ANOVA of document length across sources: η² (variance
    // explained by source) and F — "does source matter for length, or
    // is the between-source spread noise?"; the categorical-regressor
    // sibling of q161's Pearson.
    Query("q235_anova_chars", (s, dir) =>
      graft.operators.Profiling.anovaByGroup(
        t(s, dir, "documents"), "source", col("n_chars")),
    // Per-group exact (n, Σv, Σv²); each group's Σ²/n quantized to 2^10
    // before the cross-group BIGINT total; SSB/SSW/η²/F as fixed-shape
    // double arithmetic on exact integers.
    oracle =
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS ng,
        |         CAST(sum(n_chars) AS BIGINT) AS s,
        |         CAST(sum(n_chars * n_chars) AS BIGINT) AS q
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |gf AS (
        |  SELECT ng, s, q,
        |         CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |           CAST(ng AS DOUBLE) * CAST(1024.0 AS DOUBLE)) AS BIGINT)
        |           AS sbfp
        |  FROM g),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
        |         CAST(sum(s) AS BIGINT) AS ts, CAST(sum(q) AS BIGINT) AS tq,
        |         CAST(sum(sbfp) AS BIGINT) AS sbf
        |  FROM gf)
        |SELECT k, n,
        |       CAST(sbf AS DOUBLE) / CAST(1024.0 AS DOUBLE) -
        |         CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) /
        |           CAST(n AS DOUBLE) AS ssb,
        |       CAST(tq AS DOUBLE) -
        |         CAST(sbf AS DOUBLE) / CAST(1024.0 AS DOUBLE) AS ssw,
        |       CASE WHEN (CAST(tq AS DOUBLE) -
        |                  CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) /
        |                    CAST(n AS DOUBLE)) > 0
        |            THEN (CAST(sbf AS DOUBLE) / CAST(1024.0 AS DOUBLE) -
        |                  CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) /
        |                    CAST(n AS DOUBLE)) /
        |                 (CAST(tq AS DOUBLE) -
        |                  CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) /
        |                    CAST(n AS DOUBLE))
        |       END AS eta2,
        |       CASE WHEN k > 1 AND n > k AND
        |                 (CAST(tq AS DOUBLE) -
        |                  CAST(sbf AS DOUBLE) / CAST(1024.0 AS DOUBLE)) > 0
        |            THEN ((CAST(sbf AS DOUBLE) / CAST(1024.0 AS DOUBLE) -
        |                   CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) /
        |                     CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)) /
        |                 ((CAST(tq AS DOUBLE) -
        |                   CAST(sbf AS DOUBLE) / CAST(1024.0 AS DOUBLE)) /
        |                  CAST(n - k AS DOUBLE))
        |       END AS f
        |FROM a""".stripMargin),

    // Kendall τ-b between binned document length and token count —
    // the tie-corrected concordance measure completing the q161/q162
    // association trio. Cell-histogram pairs (V² on BINNED values, not
    // row pairs), exact BIGINT concordant/discordant mass, one sqrt.
    Query("q236_kendall", (s, dir) => {
      val d = t(s, dir, "documents").select(
        expr("n_chars DIV 50").as("xb"),
        (TextAnalysis.tokenCount(col("text")).cast("long")).as("__tc"))
        .withColumn("yb", expr("__tc DIV 10"))
      graft.operators.Regression.kendallTau(d, col("xb"), col("yb"))
    },
    // (x, y) cell histogram on BINNED values, lexicographic cell-pair
    // join for concordant/discordant mass, tie terms from marginals.
    oracle =
      s"""WITH d AS (
         |  SELECT n_chars // 50 AS xb,
         |         CAST(len($oToks) AS BIGINT) // 10 AS yb
         |  FROM documents),
         |dd AS (SELECT xb, yb FROM d
         |       WHERE xb IS NOT NULL AND yb IS NOT NULL),
         |cells AS (
         |  SELECT xb AS x, yb AS y, CAST(count(*) AS BIGINT) AS c
         |  FROM dd GROUP BY 1, 2),
         |p AS (
         |  SELECT CAST(COALESCE(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
         |                                THEN a.c * b.c END), 0) AS BIGINT)
         |           AS concordant,
         |         CAST(COALESCE(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
         |                                THEN a.c * b.c END), 0) AS BIGINT)
         |           AS discordant
         |  FROM cells a JOIN cells b
         |    ON (a.x < b.x) OR (a.x = b.x AND a.y < b.y)),
         |t1 AS (
         |  SELECT CAST(COALESCE(sum(t * (t - 1) // 2), 0) AS BIGINT) AS n1
         |  FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY x)),
         |t2 AS (
         |  SELECT CAST(COALESCE(sum(t * (t - 1) // 2), 0) AS BIGINT) AS n2
         |  FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY y)),
         |tot AS (
         |  SELECT n, n * (n - 1) // 2 AS n0 FROM
         |    (SELECT CAST(count(*) AS BIGINT) AS n FROM dd))
         |SELECT n, n0, n1, n2, concordant, discordant,
         |       CASE WHEN n0 > n1 AND n0 > n2
         |            THEN CAST(concordant - discordant AS DOUBLE) /
         |                 sqrt(CAST(n0 - n1 AS DOUBLE) *
         |                      CAST(n0 - n2 AS DOUBLE)) END AS tau_b
         |FROM tot, t1, t2, p""".stripMargin),

    // Grid-density (DBSCAN-style) clustering over the first two
    // embedding dims: dense cells merge through the 8-neighborhood into
    // arbitrarily-shaped clusters, sparse cells are NOISE — the
    // density complement to q37's k-means cells; CC runs on the cell
    // graph, never on points.
    Query("q237_density_clusters", (s, dir) =>
      graft.operators.DensityCluster.gridClusters(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        mult = 16.0, minPts = 4L).orderBy("vec_id"),
    // Clamped integer grid cells, core = count >= 4, 8-neighborhood
    // edges between core cells (both directions from the double loop),
    // recursive-CTE components seeded per core cell (q47's fixpoint),
    // point labels via the encoded cell id.
    oracle =
      """WITH RECURSIVE pts AS (
        |  SELECT vec_id,
        |         greatest(-1048576, least(1048576,
        |           CAST(floor(CAST(embedding AS DOUBLE[])[1] *
        |             CAST(16.0 AS DOUBLE)) AS BIGINT))) AS cx,
        |         greatest(-1048576, least(1048576,
        |           CAST(floor(CAST(embedding AS DOUBLE[])[2] *
        |             CAST(16.0 AS DOUBLE)) AS BIGINT))) AS cy
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 1),
        |cells AS (
        |  SELECT cx, cy, CAST(count(*) AS BIGINT) AS c
        |  FROM pts GROUP BY 1, 2),
        |core AS (
        |  SELECT cx, cy, (cx + 1048576) * 4194304 + (cy + 1048576) AS node
        |  FROM cells WHERE c >= 4),
        |edges AS (
        |  SELECT a.node AS u, b.node AS v
        |  FROM core a, range(-1, 2) dx(dx), range(-1, 2) dy(dy)
        |  JOIN core b ON b.cx = a.cx + dx.dx AND b.cy = a.cy + dy.dy),
        |reach(node, comp) AS (
        |  SELECT node, node FROM core
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node),
        |lab AS (SELECT node, min(comp) AS cluster FROM reach GROUP BY node)
        |SELECT p.vec_id, p.cx, p.cy, l.cluster, l.cluster IS NULL AS noise
        |FROM pts p LEFT JOIN lab l
        |  ON l.node = (p.cx + 1048576) * 4194304 + (p.cy + 1048576)
        |ORDER BY p.vec_id""".stripMargin),

    // Embedding anisotropy: ||mean vector||^2 / E||v||^2 — the
    // "cone collapse" health read under every cosine-based tier (ANN,
    // semantic dedup); fixed-point per-dim terms, one division.
    Query("q238_anisotropy", (s, dir) =>
      graft.operators.EmbeddingStats.anisotropy(
        t(s, dir, "embeddings"), "embedding"),
    // q229's fixed-point per-dim chain; each dim's mean^2 quantized to
    // 2^30 before the 64-row BIGINT total, E||v||^2 from the exact
    // floor(x*x*2^20) sums.
    oracle =
      """WITH ev AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |px AS (
        |  SELECT t.i AS dim, v[t.i + 1] AS x FROM ev, range(64) t(i)),
        |ag AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(floor(x * 1048576) AS BIGINT)) AS BIGINT)
        |           AS s,
        |         CAST(sum(CAST(floor(x * x * 1048576) AS BIGINT)) AS BIGINT)
        |           AS s2
        |  FROM px GROUP BY 1),
        |m AS (
        |  SELECT dim, n, s2,
        |         CAST(floor((CAST(s AS DOUBLE) /
        |             CAST(n * 1048576 AS DOUBLE)) *
        |           (CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)) *
        |           CAST(1073741824.0 AS DOUBLE)) AS BIGINT) AS m2fp
        |  FROM ag),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS dims,
        |         CAST(max(n) AS BIGINT) AS n,
        |         CAST(sum(m2fp) AS BIGINT) AS msfp,
        |         CAST(sum(s2) AS BIGINT) AS ssf
        |  FROM m)
        |SELECT dims, n,
        |       CAST(msfp AS DOUBLE) / CAST(1073741824.0 AS DOUBLE)
        |         AS mean_norm_sq,
        |       CAST(ssf AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
        |         AS avg_norm_sq,
        |       CASE WHEN CAST(ssf AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
        |                 > 0
        |            THEN (CAST(msfp AS DOUBLE) /
        |                  CAST(1073741824.0 AS DOUBLE)) /
        |                 (CAST(ssf AS DOUBLE) /
        |                  CAST(n * 1048576 AS DOUBLE))
        |       END AS anisotropy
        |FROM a""".stripMargin),

    // SAX motif mining over the daily event-volume series: PAA frame
    // sums → exact value-quartile symbols → repeated 3-symbol words —
    // recurring SHAPES with names, next to q201's threshold alarms.
    Query("q239_sax_motifs", (s, dir) =>
      graft.operators.Timeseries.saxMotifs(
        graft.io.TableIO.eventsNanos(s, dir),
        graft.functions.floorDivLit(col("ts"), 86400000000000L), paaW = 2, k = 4, wordLen = 3)
        .orderBy("word"),
    // Daily histogram → PAA frame sums → q75's value-ntile symbol
    // formula (cum·k−1)//n + 1 → 3-symbol words over contiguous frames
    // only (the lead(f,2) = f+2 guard), counted exactly.
    oracle =
      """WITH h AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS b,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |paa AS (
        |  SELECT b // 2 AS f, CAST(sum(x) AS BIGINT) AS s
        |  FROM h GROUP BY 1),
        |hist AS (SELECT s, CAST(count(*) AS BIGINT) AS c
        |         FROM paa GROUP BY 1),
        |cum AS (
        |  SELECT s, CAST(sum(c) OVER (ORDER BY s) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM hist),
        |bk AS (SELECT s, CAST((cum * 4 - 1) // n AS BIGINT) + 1 AS sym
        |       FROM cum),
        |symt AS (SELECT f, sym FROM paa JOIN bk USING (s)),
        |w AS (
        |  SELECT f,
        |         CAST(sym AS VARCHAR) ||
        |           CAST(lead(sym, 1) OVER (ORDER BY f) AS VARCHAR) ||
        |           CAST(lead(sym, 2) OVER (ORDER BY f) AS VARCHAR) AS word,
        |         lead(f, 2) OVER (ORDER BY f) AS lf
        |  FROM symt),
        |v AS (SELECT f, word FROM w WHERE lf = f + 2),
        |g AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n_frames,
        |         CAST(min(f) AS BIGINT) AS first_frame
        |  FROM v GROUP BY 1)
        |SELECT word, n_frames, first_frame,
        |       CAST(n_frames AS DOUBLE) /
        |         CAST(CAST(sum(n_frames) OVER () AS BIGINT) AS DOUBLE)
        |           AS support
        |FROM g ORDER BY word""".stripMargin),

    // Simpson's-paradox audit: per-lang length-punctuation association
    // sign vs the pooled sign — exact integer covariance numerators,
    // flags any stratum whose direction opposes the aggregate.
    Query("q240_simpson_audit", (s, dir) =>
      graft.operators.Regression.simpsonAudit(
        t(s, dir, "documents"), "lang",
        col("n_chars"), TextAnalysis.punctCount(col("text")))
        .orderBy("lang"),
    // Exact covariance numerators n·Σxy − Σx·Σy per lang and pooled;
    // association = integer sign, reversal = strict sign opposition.
    oracle =
      """WITH b AS (
        |  SELECT lang, n_chars AS x,
        |         CAST(len(regexp_extract_all(text,
        |           '[^a-zA-Z0-9 \t\n\f\r]')) AS BIGINT) AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) * CAST(sum(x * y) AS BIGINT) -
        |           CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT)
        |           AS cov_num
        |  FROM b GROUP BY 1),
        |p AS (
        |  SELECT CAST(count(*) AS BIGINT) * CAST(sum(x * y) AS BIGINT) -
        |           CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT)
        |           AS pooled_num
        |  FROM b),
        |sg AS (
        |  SELECT lang, n, cov_num,
        |         CAST(CASE WHEN cov_num > 0 THEN 1
        |                   WHEN cov_num < 0 THEN -1 ELSE 0 END AS BIGINT)
        |           AS group_sign
        |  FROM g),
        |sp AS (
        |  SELECT pooled_num,
        |         CAST(CASE WHEN pooled_num > 0 THEN 1
        |                   WHEN pooled_num < 0 THEN -1 ELSE 0 END AS BIGINT)
        |           AS pooled_sign
        |  FROM p)
        |SELECT lang, n, cov_num, group_sign, pooled_num, pooled_sign,
        |       group_sign * pooled_sign = -1 AS reversed
        |FROM sg, sp ORDER BY lang""".stripMargin),

    // Dictionary-encode the corpus: frequency-ranked vocab ids (ties by
    // token string), docs rewritten as id sequences with OOV = −1 —
    // the text→integer-arrays step a training job memory-maps.
    Query("q241_dict_encode", (s, dir) =>
      // ids flattened to a CSV string (empty docs -> "") — the driver's
      // pandas checker cannot sort ARRAY<LONG> columns (round-9 burn);
      // the joined string pins the full id sequence exactly.
      TextAnalysis.dictionaryEncode(t(s, dir, "documents"), "doc_id",
        "text", minDf = 2L)
        .withColumn("ids", array_join(col("ids").cast("array<string>"), ","))
        .orderBy("doc_id"),
    // Frequency-ranked vocab (row_number over count DESC, token — the
    // engine's histogram-offset ordinals), per-position encode join,
    // list(id ORDER BY p) re-assembly; empty docs keep empty arrays.
    oracle =
      s"""WITH toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |tokp AS (
         |  SELECT doc_id, unnest(range(len(tk))) AS p, tk FROM toks),
         |tok AS (SELECT doc_id, p, tk[p + 1] AS t FROM tokp),
         |cnt AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS cnt,
         |         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tok GROUP BY 1),
         |vocab AS (
         |  SELECT t, CAST(row_number() OVER (ORDER BY cnt DESC, t) - 1
         |    AS BIGINT) AS vid
         |  FROM cnt WHERE df >= 2),
         |enc AS (
         |  SELECT tok.doc_id, tok.p,
         |         CAST(COALESCE(v.vid, -1) AS BIGINT) AS id
         |  FROM tok LEFT JOIN vocab v ON v.t = tok.t),
         |agg AS (
         |  SELECT doc_id, list(id ORDER BY p) AS ids,
         |         CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(count(CASE WHEN id = -1 THEN 1 END) AS BIGINT)
         |           AS n_oov
         |  FROM enc GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(array_to_string(a.ids, ','), '') AS ids,
         |       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(a.n_oov, 0) AS BIGINT) AS n_oov
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Association rules over token BASKETS (Apriori level 2): frequent
    // token pairs with support, both directed confidences, and lift —
    // set co-occurrence, where q213's bigram lift is adjacency.
    Query("q242_assoc_rules", (s, dir) =>
      graft.operators.Cooccur.assocRules(t(s, dir, "documents"),
        "doc_id", "text", minDf = 50L, minPair = 25L, topK = 30),
    // Distinct-token baskets, level-1 df prune, per-doc pair join,
    // level-2 pair floor; metrics are single divisions of exact counts,
    // top-30 by (lift DESC, a, b) — a total order, engine-stable.
    oracle =
      s"""WITH toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |it AS (
         |  SELECT doc_id, unnest(list_distinct(tk)) AS t FROM toks),
         |fr AS (SELECT t, CAST(count(*) AS BIGINT) AS df
         |       FROM it GROUP BY 1),
         |bask AS (
         |  SELECT it.doc_id, it.t, fr.df
         |  FROM it JOIN fr USING (t) WHERE fr.df >= 50),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |p AS (
         |  SELECT x.t AS a, y.t AS b, x.df AS c_a, y.df AS c_b,
         |         CAST(count(*) AS BIGINT) AS c_ab
         |  FROM bask x JOIN bask y
         |    ON x.doc_id = y.doc_id AND x.t < y.t
         |  GROUP BY 1, 2, 3, 4),
         |f AS (SELECT * FROM p, nd WHERE c_ab >= 25)
         |SELECT a, b, n_docs, c_a, c_b, c_ab,
         |       CAST(c_ab AS DOUBLE) / CAST(n_docs AS DOUBLE) AS support,
         |       CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE) AS conf_a_b,
         |       CAST(c_ab AS DOUBLE) / CAST(c_b AS DOUBLE) AS conf_b_a,
         |       CAST(c_ab * n_docs AS DOUBLE) / CAST(c_a * c_b AS DOUBLE)
         |         AS lift
         |FROM f ORDER BY lift DESC, a, b LIMIT 30""".stripMargin),

    // Blocking-quality audit of the wide-simhash candidate generator vs
    // exact bigram-Jaccard truth: reduction ratio AND pair completeness
    // (q97 measured recall only) + their harmonic mean — the standard
    // entity-resolution blocking scorecard.
    Query("q243_blocking_quality", (s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = graft.operators.CacheScope.track(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2,
          threshold = 0.6).select("i", "j"))
      val cand = graft.operators.CacheScope.track(
        Dedup.simhashPairsWide(docs, "doc_id", "text", maxHamming = 3)
          .select("i", "j"))
      Dedup.blockingQuality(cand, truth, docs)
    },
    // q97's truth/candidate CTEs + the n(n−1)/2 comparison base;
    // RR, PC, and their harmonic mean each one division.
    oracle =
      s"""WITH ${oJaccardCtes(2)},
         |truth AS (SELECT i, j FROM jac WHERE jaccard >= 0.6),
         |${oWideSimhashCtes()},
         |${oWidePairsCte("cand", 3)},
         |hit AS (SELECT i, j FROM truth INTERSECT SELECT i, j FROM cand),
         |base AS (
         |  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT)
         |           AS n_records,
         |         CAST((SELECT count(*) FROM cand) AS BIGINT)
         |           AS n_candidates,
         |         CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |         CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_found),
         |m AS (
         |  SELECT n_records, n_records * (n_records - 1) // 2 AS n_all_pairs,
         |         n_candidates, n_truth, n_found,
         |         CASE WHEN n_records * (n_records - 1) // 2 > 0
         |              THEN CAST(1.0 AS DOUBLE) -
         |                   CAST(n_candidates AS DOUBLE) /
         |                   CAST(n_records * (n_records - 1) // 2 AS DOUBLE)
         |         END AS reduction_ratio,
         |         CASE WHEN n_truth > 0
         |              THEN CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |         END AS pair_completeness
         |  FROM base)
         |SELECT n_records, n_all_pairs, n_candidates, reduction_ratio,
         |       n_truth, n_found, pair_completeness,
         |       CASE WHEN reduction_ratio + pair_completeness > 0.0
         |            THEN CAST(2.0 AS DOUBLE) * reduction_ratio *
         |                 pair_completeness /
         |                 (reduction_ratio + pair_completeness)
         |       END AS quality
         |FROM m""".stripMargin),

    // Neyman allocation of a 100-doc sample budget across sources:
    // n_h·σ_h collapses to sqrt(n·Σv² − (Σv)²) — one sqrt of an exact
    // BIGINT per stratum, fixed-point weights, floor-allocated counts
    // with the remainder reported.
    Query("q244_neyman_alloc", (s, dir) =>
      Sampling.neymanAllocation(t(s, dir, "documents"), "source",
        col("n_chars"), budget = 100L).orderBy("source"),
    // n_h·σ_h = sqrt(n·Σv² − (Σv)²) exactly — one sqrt per stratum,
    // 2^20 fixed-point weights, floor allocation, remainder reported.
    oracle =
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(n_chars) AS BIGINT) AS s,
        |         CAST(sum(n_chars * n_chars) AS BIGINT) AS q
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |w AS (
        |  SELECT source, n, n * q - s * s AS var_num,
        |         CAST(floor(sqrt(CAST(greatest(n * q - s * s, 0)
        |             AS DOUBLE)) * CAST(1048576.0 AS DOUBLE)) AS BIGINT)
        |           AS weight_fp
        |  FROM g),
        |tw AS (SELECT CAST(sum(weight_fp) AS BIGINT) AS tw FROM w),
        |al AS (
        |  SELECT source, n, var_num, weight_fp,
        |         CAST(CASE WHEN tw > 0 THEN (100 * weight_fp) // tw
        |                   ELSE 0 END AS BIGINT) AS alloc,
        |         CASE WHEN tw > 0
        |              THEN CAST(weight_fp AS DOUBLE) / CAST(tw AS DOUBLE)
        |         END AS share
        |  FROM w, tw)
        |SELECT source, n, var_num, weight_fp, alloc, share,
        |       100 - CAST((SELECT sum(alloc) FROM al) AS BIGINT)
        |         AS remainder
        |FROM al ORDER BY source""".stripMargin),

    // Wald–Wolfowitz runs test: is lang='en' actually MIXED along the
    // doc_id manifest order, or clumped? Adjacency via per-block windows
    // + a |blocks|-row shifted self-join — no corpus-wide window; exact
    // run/class counts, fixed-shape z.
    Query("q245_runs_test", (s, dir) =>
      graft.operators.Layout.runsTest(t(s, dir, "documents"),
        expr("doc_id DIV 256"), Seq(col("doc_id")),
        col("lang") === "en"),
    // Straight lag-window recount of runs (the oracle may funnel — it
    // is DuckDB); identical fixed-shape double tail.
    oracle =
      """WITH b AS (
        |  SELECT doc_id, (lang = 'en') AS a FROM documents
        |  WHERE (lang = 'en') IS NOT NULL),
        |l AS (SELECT a, lag(a) OVER (ORDER BY doc_id) AS pa FROM b),
        |r AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS n1,
        |         CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS n2,
        |         CAST(count(CASE WHEN pa IS NOT NULL AND a <> pa
        |                         THEN 1 END) + 1 AS BIGINT) AS runs0
        |  FROM l)
        |SELECT n, n1, n2,
        |       CASE WHEN n > 0 THEN runs0 END AS runs,
        |       CASE WHEN n > 0
        |            THEN CAST(1.0 AS DOUBLE) +
        |                 CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                   CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE)
        |       END AS expected_runs,
        |       CASE WHEN n > 1 AND n1 > 0 AND n2 > 0
        |            THEN CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                   CAST(n2 AS DOUBLE) *
        |                 (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                    CAST(n2 AS DOUBLE) - CAST(n AS DOUBLE)) /
        |                 (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
        |                  (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))
        |       END AS variance,
        |       CASE WHEN n > 1 AND n1 > 0 AND n2 > 0 AND
        |                 CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                   CAST(n2 AS DOUBLE) *
        |                 (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                    CAST(n2 AS DOUBLE) - CAST(n AS DOUBLE)) /
        |                 (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
        |                  (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))) > 0
        |            THEN (CAST(runs0 AS DOUBLE) -
        |                  (CAST(1.0 AS DOUBLE) +
        |                   CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                     CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))) /
        |                 sqrt(CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                        CAST(n2 AS DOUBLE) *
        |                      (CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
        |                         CAST(n2 AS DOUBLE) - CAST(n AS DOUBLE)) /
        |                      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
        |                       (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))))
        |       END AS z
        |FROM r""".stripMargin),

    // Incremental JOIN maintenance: signed lineitem/orders changelogs
    // drive dA⋈(B⊎dB) ∪ A⋈dB — the materialized join's delta without
    // recomputing the corpus join; net per-priority row/quantity changes
    // gate against a full old-vs-new recompute diff.
    Query("q246_incr_join", (s, dir) => {
      val a = t(s, dir, "lineitem").select(
        col("l_orderkey").as("k"),
        col("l_quantity").cast("long").as("qty"))
      val b = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
      val dA = a.filter(col("k") % 37 === 0)
        .withColumn("sign", lit(-1L))
        .unionByName(a.filter(col("k") % 41 === 0)
          .withColumn("qty", col("qty") + 100L)
          .withColumn("sign", lit(1L)))
      val dB = b.filter(col("k") % 53 === 0)
        .withColumn("sign", lit(-1L))
        .unionByName(b.filter(col("k") % 53 === 0)
          .withColumn("prio", lit("9-CHANGED"))
          .withColumn("sign", lit(1L)))
      graft.operators.Merge.joinDelta(a, dA, b, dB, Seq("k"), "sign",
        aCols = Seq("qty"), bCols = Seq("prio"))
        .groupBy("prio")
        .agg(sum(col("sign")).as("net_rows"),
          sum(col("sign") * col("qty")).as("net_qty"))
        .filter(col("net_rows") =!= 0L || col("net_qty") =!= 0L)
        .orderBy("prio")
    },
    // Full old-vs-new join recompute, aggregated per priority and
    // diffed — the identity the delta operator must satisfy.
    oracle =
      """WITH a_old AS (
        |  SELECT l_orderkey AS k, CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |b_old AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS prio FROM orders),
        |a_new AS (
        |  SELECT k, qty FROM a_old WHERE k % 37 <> 0
        |  UNION ALL
        |  SELECT k, qty + 100 FROM a_old WHERE k % 41 = 0),
        |b_new AS (
        |  SELECT k, prio FROM b_old WHERE k % 53 <> 0
        |  UNION ALL
        |  SELECT k, '9-CHANGED' AS prio FROM b_old WHERE k % 53 = 0),
        |j_old AS (
        |  SELECT prio, CAST(count(*) AS BIGINT) AS rows_,
        |         CAST(sum(qty) AS BIGINT) AS qty_
        |  FROM a_old JOIN b_old USING (k) GROUP BY 1),
        |j_new AS (
        |  SELECT prio, CAST(count(*) AS BIGINT) AS rows_,
        |         CAST(sum(qty) AS BIGINT) AS qty_
        |  FROM a_new JOIN b_new USING (k) GROUP BY 1),
        |d AS (
        |  SELECT COALESCE(n.prio, o.prio) AS prio,
        |         CAST(COALESCE(n.rows_, 0) - COALESCE(o.rows_, 0)
        |           AS BIGINT) AS net_rows,
        |         CAST(COALESCE(n.qty_, 0) - COALESCE(o.qty_, 0)
        |           AS BIGINT) AS net_qty
        |  FROM j_new n FULL OUTER JOIN j_old o ON n.prio = o.prio)
        |SELECT prio, net_rows, net_qty FROM d
        |WHERE net_rows <> 0 OR net_qty <> 0
        |ORDER BY prio""".stripMargin),

    // Link prediction over the order–part bipartite graph: common
    // neighbours, fixed-point resource-allocation index (10⁹ DIV deg
    // reciprocals — exact BIGINT sums), neighbour Jaccard, preferential
    // attachment; q186's candidate generation, scored.
    Query("q247_link_prediction", (s, dir) =>
      graft.operators.Cooccur.linkPredictionScores(t(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxDegree = 6, topK = 40),
    // Degree-capped actor baskets pair under a<b; RA reciprocals are
    // 10^9 // deg exact integers; Jaccard/PA one division each.
    oracle =
      """WITH ai AS (
        |  SELECT DISTINCT l_orderkey AS actor, l_partkey AS item
        |  FROM lineitem),
        |adeg AS (SELECT actor, CAST(count(*) AS BIGINT) AS adeg
        |         FROM ai GROUP BY 1),
        |ideg AS (SELECT item, CAST(count(*) AS BIGINT) AS ideg
        |         FROM ai GROUP BY 1),
        |cap AS (
        |  SELECT ai.actor, ai.item, a.adeg
        |  FROM ai JOIN adeg a USING (actor) WHERE a.adeg <= 6),
        |p AS (
        |  SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS cn,
        |         CAST(sum(1000000000 // x.adeg) AS BIGINT) AS ra_fp
        |  FROM cap x JOIN cap y
        |    ON x.actor = y.actor AND x.item < y.item
        |  GROUP BY 1, 2)
        |SELECT p.a AS item_a, p.b AS item_b, cn, ra_fp,
        |       da.ideg AS deg_a, db.ideg AS deg_b,
        |       CAST(cn AS DOUBLE) / CAST(da.ideg + db.ideg - cn AS DOUBLE)
        |         AS jaccard,
        |       da.ideg * db.ideg AS pa
        |FROM p JOIN ideg da ON da.item = p.a
        |JOIN ideg db ON db.item = p.b
        |ORDER BY ra_fp DESC, item_a, item_b LIMIT 40""".stripMargin),

    // Sample-ratio-mismatch audit of q99's 80/10/10 hash split: the
    // first check of any experiment analysis — observed split counts vs
    // promised shares, χ² from fixed-point terms.
    Query("q248_srm", (s, dir) =>
      graft.operators.Profiling.ratioMismatchAudit(
        Sampling.hashSplit(t(s, dir, "documents"), "doc_id", 80, 10)
          .select("split"),
        "split", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy("label"),
    // q99's bucket arithmetic labels the split; then the q234 χ²
    // machinery against the promised 80/10/10 shares.
    oracle =
      """WITH e(label, expected_p) AS (VALUES
        |  ('train', CAST(0.8 AS DOUBLE)),
        |  ('val', CAST(0.1 AS DOUBLE)),
        |  ('test', CAST(0.1 AS DOUBLE))),
        |b AS (
        |  SELECT CASE WHEN bkt < 80 THEN 'train'
        |              WHEN bkt < 90 THEN 'val' ELSE 'test' END AS label
        |  FROM (SELECT (((doc_id % 2147483648) * 2654435761)
        |                  % 4294967296) % 100 AS bkt FROM documents)),
        |cnt AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS observed
        |  FROM b GROUP BY 1),
        |j AS (
        |  SELECT e.label, e.expected_p,
        |         CAST(COALESCE(cnt.observed, 0) AS BIGINT) AS observed
        |  FROM e LEFT JOIN cnt USING (label)),
        |w AS (
        |  SELECT label, observed, expected_p,
        |         CAST(sum(observed) OVER () AS BIGINT) AS n
        |  FROM j),
        |tm AS (
        |  SELECT label, observed, n, expected_p,
        |         CAST(floor((CAST(observed AS DOUBLE) -
        |             expected_p * CAST(n AS DOUBLE)) *
        |           (CAST(observed AS DOUBLE) -
        |             expected_p * CAST(n AS DOUBLE)) /
        |           (expected_p * CAST(n AS DOUBLE)) *
        |           CAST(1073741824.0 AS DOUBLE)) AS BIGINT) AS term_fp
        |  FROM w)
        |SELECT label, observed, n,
        |       CAST(observed AS DOUBLE) / CAST(n AS DOUBLE) AS obs_p,
        |       expected_p, term_fp,
        |       CAST(sum(term_fp) OVER () AS BIGINT) AS chi2_fp,
        |       CAST(CAST(sum(term_fp) OVER () AS BIGINT) AS DOUBLE) /
        |         CAST(1073741824.0 AS DOUBLE) AS chi2
        |FROM tm ORDER BY label""".stripMargin),

    // Heaps'-law vocabulary-growth curve: vocabulary and token mass
    // after the first k docs — does more data still buy new vocabulary?
    // First-occurrence ids off the token histogram, checkpoint explode.
    Query("q249_heaps_curve", (s, dir) =>
      TextAnalysis.heapsCurve(t(s, dir, "documents"), "doc_id", "text",
        Seq(50L, 100L, 200L, 400L, 500L)).orderBy("k"),
    // First-occurrence doc per token off the histogram; each checkpoint
    // joins tokens/docs at or below its cutoff — no per-checkpoint
    // corpus rescan.
    oracle =
      s"""WITH cp AS (
         |  SELECT CAST(k AS BIGINT) AS k
         |  FROM (VALUES (50), (100), (200), (400), (500)) v(k)),
         |toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |tok AS (SELECT doc_id, unnest(tk) AS t FROM toks),
         |fd AS (SELECT t, CAST(min(doc_id) AS BIGINT) AS fd
         |       FROM tok GROUP BY 1),
         |vocab_at AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS vocab
         |  FROM cp JOIN fd ON fd.fd <= cp.k GROUP BY 1),
         |per_doc AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS c FROM toks
         |  WHERE len(tk) > 0),
         |mass_at AS (
         |  SELECT k, CAST(sum(c) AS BIGINT) AS total_tokens
         |  FROM cp JOIN per_doc ON per_doc.doc_id <= cp.k GROUP BY 1),
         |docs_at AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM cp JOIN documents d ON d.doc_id <= cp.k GROUP BY 1)
         |SELECT cp.k,
         |       CAST(COALESCE(docs_at.n_docs, 0) AS BIGINT) AS n_docs,
         |       CAST(COALESCE(mass_at.total_tokens, 0) AS BIGINT)
         |         AS total_tokens,
         |       CAST(COALESCE(vocab_at.vocab, 0) AS BIGINT) AS vocab
         |FROM cp LEFT JOIN docs_at USING (k) LEFT JOIN mass_at USING (k)
         |LEFT JOIN vocab_at USING (k)
         |ORDER BY cp.k""".stripMargin),

    // 2-D skyline: documents on the (length, quality) Pareto frontier —
    // the preference shortlist no single weighted score expresses;
    // per-x max-y histogram + one exclusive window over histogram rows.
    Query("q250_skyline", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        floor(TextAnalysis.qualityScore(col("text")) * lit(1048576L))
          .cast("long").as("qfp"))
      graft.operators.TopK.skyline2D(d, col("n_chars"), col("qfp"))
        .orderBy("doc_id")
    },
    // NOT EXISTS dominance recount (the O(n²) definition — it is the
    // oracle); engine result is the per-x max-y frontier semi-join.
    oracle =
      s"""WITH m AS (SELECT doc_id, n_chars, text, $oToks AS tk
         |           FROM documents),
         |f AS (
         |  SELECT doc_id, n_chars,
         |         CAST(floor(
         |           (least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |            + least(CAST(len(tk) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |            + (CAST(1.0 AS DOUBLE) - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS DOUBLE)
         |                   / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))) / CAST(3.0 AS DOUBLE)
         |           * CAST(1048576 AS DOUBLE)) AS BIGINT) AS qfp
         |  FROM m)
         |SELECT p.doc_id, p.n_chars, p.qfp
         |FROM f p
         |WHERE p.n_chars IS NOT NULL AND p.qfp IS NOT NULL
         |  AND NOT EXISTS (
         |    SELECT 1 FROM f q
         |    WHERE q.n_chars >= p.n_chars AND q.qfp >= p.qfp
         |      AND (q.n_chars > p.n_chars OR q.qfp > p.qfp))
         |ORDER BY p.doc_id""".stripMargin),

    // Bounded-hop BFS from a seeded item set over the co-engagement
    // graph: exact minimum hop distances ≤ 4, histogrammed, plus the
    // unreached mass as d = −1 — the contamination-spread /
    // effective-diameter read.
    Query("q251_bfs_hops", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = graft.operators.Cooccur.coEngagementPairs(li,
        "l_orderkey", "l_partkey", maxDegree = 6)
      val items = li.select(col("l_partkey").as("item")).distinct()
      val seeds = items.filter(col("item") % 97 === 0)
      val hops = graft.operators.Components.boundedHops(edges, "item_a",
        "item_b", seeds, "item", maxHops = 4)
      val hist = hops.groupBy(col("d")).agg(count(lit(1)).as("n_nodes"))
      val unreached = items
        .join(hops, col("item") === col("node"), "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1L).as("d"), col("n_nodes"))
      hist.unionByName(unreached).filter(col("n_nodes") > 0L).orderBy("d")
    },
    // q247's capped pair graph symmetrized, recursive min-hop CTE
    // bounded at 4, histogram + the NOT IN unreached remainder.
    oracle =
      """WITH RECURSIVE ai AS (
        |  SELECT DISTINCT l_orderkey AS actor, l_partkey AS item
        |  FROM lineitem),
        |deg AS (SELECT actor, count(*) AS dg FROM ai GROUP BY 1),
        |cap AS (
        |  SELECT ai.actor, ai.item
        |  FROM ai JOIN deg USING (actor) WHERE dg <= 6),
        |pairs AS (
        |  SELECT DISTINCT x.item AS i, y.item AS j
        |  FROM cap x JOIN cap y
        |    ON x.actor = y.actor AND x.item < y.item),
        |e AS (SELECT i AS u, j AS v FROM pairs
        |      UNION SELECT j AS u, i AS v FROM pairs),
        |items AS (SELECT DISTINCT l_partkey AS item FROM lineitem),
        |reach(node, d) AS (
        |  SELECT item, CAST(0 AS BIGINT) FROM items WHERE item % 97 = 0
        |  UNION
        |  SELECT e.v, r.d + 1 FROM reach r JOIN e ON e.u = r.node
        |  WHERE r.d < 4),
        |md AS (SELECT node, CAST(min(d) AS BIGINT) AS d
        |       FROM reach GROUP BY 1),
        |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes
        |         FROM md GROUP BY 1),
        |unr AS (
        |  SELECT CAST(-1 AS BIGINT) AS d, CAST(count(*) AS BIGINT)
        |           AS n_nodes
        |  FROM items WHERE item NOT IN (SELECT node FROM md))
        |SELECT d, n_nodes
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM unr)
        |WHERE n_nodes > 0 ORDER BY d""".stripMargin),

    // Poisson-bootstrap error bars for the corpus length MEDIAN: 32
    // deterministic replicates, weighted median off each replicate's
    // value histogram — order-statistic error bars, no division at all.
    Query("q252_median_bootstrap", (s, dir) =>
      Sampling.bootstrapMedian(t(s, dir, "documents"), "doc_id",
        col("n_chars"), replicates = 32).orderBy("b"),
    // q182's deterministic Poisson draw (replicates=32), weighted value
    // histogram per replicate, median = min v with 2·cum ≥ n.
    oracle = {
      val wCases = graft.operators.Sampling.PoissonCdf
        .map(c => s"(CASE WHEN h / CAST(4294967296 AS DOUBLE) >= CAST($c AS DOUBLE) THEN 1 ELSE 0 END)")
        .mkString("\n|         + ")
      s"""WITH r AS (
         |  SELECT b.b, n_chars AS v,
         |         (((doc_id * 32 + b.b) % 2147483648) * 2654435761)
         |           % 4294967296 AS h
         |  FROM documents, range(32) b(b)
         |  WHERE n_chars IS NOT NULL),
         |w AS (
         |  SELECT b, v,
         |         $wCases AS w
         |  FROM r),
         |hist AS (
         |  SELECT b, v, CAST(sum(w) AS BIGINT) AS c
         |  FROM w GROUP BY 1, 2),
         |cum AS (
         |  SELECT b, v, c,
         |         CAST(sum(c) OVER (PARTITION BY b ORDER BY v)
         |           AS BIGINT) AS cum,
         |         CAST(sum(c) OVER (PARTITION BY b) AS BIGINT) AS n
         |  FROM hist)
         |SELECT CAST(b AS BIGINT) AS b, CAST(max(n) AS BIGINT) AS n_eff,
         |       CAST(min(v) AS BIGINT) AS median
         |FROM cum WHERE n > 0 AND cum * 2 >= n
         |GROUP BY 1 ORDER BY b""".stripMargin
    }),

    // Index of dispersion per event type: variance/mean of daily counts
    // with an exact-integer overdispersion verdict — is the Poisson
    // assumption under the alarm thresholds even valid?
    Query("q253_dispersion", (s, dir) =>
      graft.operators.EventAnalytics.dispersionByGroup(
        graft.io.TableIO.eventsNanos(s, dir), col("event_type"),
        graft.functions.floorDivLit(col("ts"), 86400000000000L)).orderBy("group"),
    // Per-(type, day) histogram; D = (nΣx² − (Σx)²)/(n·Σx) with the
    // verdict as an exact integer comparison.
    oracle =
      """WITH h AS (
        |  SELECT event_type AS "group",
        |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS b,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT "group", CAST(count(*) AS BIGINT) AS n_buckets,
        |         CAST(sum(x) AS BIGINT) AS total,
        |         CAST(sum(x * x) AS BIGINT) AS q
        |  FROM h GROUP BY 1)
        |SELECT "group", n_buckets, total,
        |       n_buckets * q - total * total AS disp_num,
        |       n_buckets * total AS disp_den,
        |       CASE WHEN n_buckets * total > 0
        |            THEN CAST(n_buckets * q - total * total AS DOUBLE) /
        |                 CAST(n_buckets * total AS DOUBLE) END AS dispersion,
        |       n_buckets * q - total * total > n_buckets * total
        |         AS overdispersed
        |FROM a ORDER BY "group"""".stripMargin),

    // Jain's fairness index of the source mix: (Σx)²/(n·Σx²) — the
    // one-number balance read, no ordering needed.
    Query("q254_jain_fairness", (s, dir) =>
      graft.operators.Profiling.jainFairness(t(s, dir, "documents"),
        "source"),
    // (Σx)² / (n·Σx²) over per-source counts — one division.
    oracle =
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS x
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |         CAST(sum(x) AS BIGINT) AS total,
        |         CAST(sum(x * x) AS BIGINT) AS sum_sq
        |  FROM g)
        |SELECT n_groups, total, sum_sq,
        |       CASE WHEN sum_sq > 0
        |            THEN CAST(total * total AS DOUBLE) /
        |                 CAST(n_groups * sum_sq AS DOUBLE) END AS jain
        |FROM a""".stripMargin),

    // Weighted (bag) Jaccard verification of the wide-simhash
    // candidates: Σmin/Σmax over token COUNT vectors — sees repetition
    // where set Jaccard saturates; Σmax from the totals identity, one
    // pair-token join.
    Query("q255_weighted_jaccard", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 3).select("i", "j")
      Dedup.weightedJaccardVerify(cands, docs, "doc_id", "text")
        .orderBy("i", "j")
    },
    // q97's candidate CTEs at hamming 3; Σmax = total_i + total_j −
    // Σmin, so only the shared-token min-sum joins.
    oracle =
      s"""WITH ${oWideSimhashCtes()},
         |${oWidePairsCte("cand", 3)},
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest($oToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot
         |        FROM tf GROUP BY 1),
         |sh AS (
         |  SELECT cand.i, cand.j,
         |         CAST(sum(least(x.c, y.c)) AS BIGINT) AS min_sum
         |  FROM cand JOIN tf x ON x.doc_id = cand.i
         |  JOIN tf y ON y.doc_id = cand.j AND y.term = x.term
         |  GROUP BY 1, 2)
         |SELECT c.i, c.j,
         |       CAST(COALESCE(sh.min_sum, 0) AS BIGINT) AS min_sum,
         |       CAST(COALESCE(ti.tot, 0) AS BIGINT) AS total_i,
         |       CAST(COALESCE(tj.tot, 0) AS BIGINT) AS total_j,
         |       CASE WHEN COALESCE(ti.tot, 0) + COALESCE(tj.tot, 0) -
         |                 COALESCE(sh.min_sum, 0) > 0
         |            THEN CAST(COALESCE(sh.min_sum, 0) AS DOUBLE) /
         |                 CAST(COALESCE(ti.tot, 0) + COALESCE(tj.tot, 0) -
         |                      COALESCE(sh.min_sum, 0) AS DOUBLE)
         |       END AS wjaccard
         |FROM cand c LEFT JOIN sh ON sh.i = c.i AND sh.j = c.j
         |LEFT JOIN tot ti ON ti.doc_id = c.i
         |LEFT JOIN tot tj ON tj.doc_id = c.j
         |ORDER BY c.i, c.j""".stripMargin),

    // Rank-biased overlap between the TF-IDF and BM25 top-20 for the
    // same query terms: the top-weighted ranker-similarity coefficient,
    // p-power weights as driver literals, exact (W·X) DIV d terms.
    Query("q256_rbo", (s, dir) => {
      val docs = t(s, dir, "documents")
      val qterms = Seq("fast", "table", "value")
      val w20 = org.apache.spark.sql.expressions.Window
        .orderBy(desc("s"), col("doc_id"))
      def top20(scores: DataFrame) =
        scores.orderBy(desc("s"), col("doc_id")).limit(20)
          .withColumn("rank", row_number().over(w20).cast("long"))
      val aTf = TfIdf.termWeights(docs, "doc_id", "text",
        broadcastVocab = true)
        .filter(col("term").isin(qterms: _*))
        .groupBy("doc_id")
        .agg(sum(floor(col("tfidf") * lit(1048576L)).cast("long")).as("s"))
      val bBm = TfIdf.bm25(docs, "doc_id", "text", broadcastVocab = true)
        .filter(col("term").isin(qterms: _*))
        .groupBy("doc_id")
        .agg(sum(floor(col("bm25") * lit(1048576L)).cast("long")).as("s"))
      graft.operators.Fusion.rankBiasedOverlap(top20(aTf), top20(bBm),
        "doc_id", "rank", k = 20, p = 0.9)
    },
    // q53/q72 scorers filtered to the query terms, per-doc fixed-point
    // sums, top-20 ranks, then the literal-weight RBO fold.
    oracle = {
      val k1p1 = "CAST(2.2 AS DOUBLE)"
      val k1 = "CAST(1.2 AS DOUBLE)"
      val oneMinusB = "CAST(0.25 AS DOUBLE)"
      val bC = "CAST(0.75 AS DOUBLE)"
      val wVals = graft.operators.Fusion.rboWeights(20, 0.9)
        .map { case (d, w) => s"($d, CAST($w AS BIGINT))" }.mkString(", ")
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($oToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |        FROM tf GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |ad AS (SELECT CAST((SELECT coalesce(sum(tf), 0) FROM tf) AS DOUBLE)
         |              / (SELECT n FROM nn) AS avgdl),
         |sca AS (
         |  SELECT tf.doc_id, tf.term,
         |         CAST(tf.tf AS DOUBLE) * (nn.n + 1) / (dfx.df + 1) AS tfidf
         |  FROM tf JOIN dfx USING (term) CROSS JOIN nn),
         |ta AS (
         |  SELECT doc_id,
         |         CAST(sum(CAST(floor(tfidf * CAST(1048576 AS DOUBLE))
         |           AS BIGINT)) AS BIGINT) AS s
         |  FROM sca WHERE term IN ('fast', 'table', 'value') GROUP BY 1),
         |ra AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id)
         |    AS BIGINT) AS rank
         |  FROM ta ORDER BY s DESC, doc_id LIMIT 20),
         |scb AS (
         |  SELECT tf.doc_id, tf.term,
         |         (CAST(nn.n + 1 AS DOUBLE) / (dfx.df + 1)) *
         |           (CAST(tf.tf AS DOUBLE) * $k1p1) /
         |           (CAST(tf.tf AS DOUBLE) +
         |            $k1 * ($oneMinusB + ($bC * dls.dl) / ad.avgdl)) AS bm25
         |  FROM tf JOIN dfx USING (term) JOIN dls USING (doc_id)
         |  CROSS JOIN nn CROSS JOIN ad),
         |tb AS (
         |  SELECT doc_id,
         |         CAST(sum(CAST(floor(bm25 * CAST(1048576 AS DOUBLE))
         |           AS BIGINT)) AS BIGINT) AS s
         |  FROM scb WHERE term IN ('fast', 'table', 'value') GROUP BY 1),
         |rb AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id)
         |    AS BIGINT) AS rank
         |  FROM tb ORDER BY s DESC, doc_id LIMIT 20),
         |wts(d, w_fp) AS (VALUES $wVals),
         |jd AS (
         |  SELECT ra.doc_id, greatest(ra.rank, rb.rank) AS m
         |  FROM ra JOIN rb USING (doc_id)),
         |xd AS (
         |  SELECT w.d, w.w_fp, CAST(count(*) AS BIGINT) AS x_d
         |  FROM wts w JOIN jd ON jd.m <= w.d GROUP BY 1, 2),
         |a AS (
         |  SELECT CAST(sum((w_fp * x_d) // d) AS BIGINT) AS rbo_fp,
         |         CAST(max(CASE WHEN d = 20 THEN x_d END) AS BIGINT)
         |           AS overlap_at_k
         |  FROM xd)
         |SELECT CAST(20 AS BIGINT) AS k,
         |       CAST(COALESCE(overlap_at_k, 0) AS BIGINT) AS overlap_at_k,
         |       CAST(COALESCE(rbo_fp, 0) AS BIGINT) AS rbo_fp,
         |       CAST(COALESCE(rbo_fp, 0) AS DOUBLE) /
         |         CAST(1073741824.0 AS DOUBLE) AS rbo
         |FROM a""".stripMargin
    }),

    // Multi-touch attribution: last-touch counts and fixed-point linear
    // shares of view/click events within 3 days before each purchase,
    // plus the direct-conversion remainder — user-keyed window join,
    // never a cross join.
    Query("q257_attribution", (s, dir) =>
      graft.operators.EventAnalytics.attribution(
        graft.io.TableIO.eventsNanos(s, dir), "user_id", col("ts"),
        "event_id", "event_type", convType = "purchase",
        touchTypes = Seq("view", "click"),
        windowNs = 3L * 86400000000000L)
        .orderBy("touch_type"),
    // User-keyed window join, last touch by (ts, id) row_number,
    // linear shares as exact 2^20 // n integers, direct remainder.
    oracle =
      """WITH b AS (
        |  SELECT user_id AS u, CAST(epoch_ns(ts) AS BIGINT) AS tsn,
        |         event_id AS eid, event_type AS ty
        |  FROM events),
        |conv AS (SELECT u, tsn AS cts, eid AS cid FROM b
        |         WHERE ty = 'purchase'),
        |tch AS (SELECT u, tsn AS tts, eid AS tid, ty FROM b
        |        WHERE ty IN ('view', 'click')),
        |wnd AS (
        |  SELECT conv.cid, tch.tid, tch.ty, tch.tts
        |  FROM conv JOIN tch USING (u)
        |  WHERE tch.tts < conv.cts
        |    AND tch.tts >= conv.cts - 259200000000000),
        |lt AS (
        |  SELECT cid, tid AS last_tid FROM (
        |    SELECT cid, tid, row_number() OVER (PARTITION BY cid
        |      ORDER BY tts DESC, tid DESC) AS rn FROM wnd)
        |  WHERE rn = 1),
        |pc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n
        |       FROM wnd GROUP BY 1),
        |att AS (
        |  SELECT w.ty AS touch_type,
        |         CAST(count(CASE WHEN w.tid = lt.last_tid THEN 1 END)
        |           AS BIGINT) AS n_last_touch,
        |         CAST(count(*) AS BIGINT) AS n_touches,
        |         CAST(sum(1048576 // pc.n) AS BIGINT) AS linear_fp
        |  FROM wnd w JOIN pc USING (cid) JOIN lt USING (cid)
        |  GROUP BY 1),
        |dir_ AS (
        |  SELECT '(direct)' AS touch_type,
        |         CAST(count(*) AS BIGINT) AS n_last_touch,
        |         CAST(0 AS BIGINT) AS n_touches,
        |         CAST(0 AS BIGINT) AS linear_fp
        |  FROM conv WHERE cid NOT IN (SELECT cid FROM pc))
        |SELECT touch_type, n_last_touch, n_touches, linear_fp
        |FROM (SELECT * FROM att UNION ALL SELECT * FROM dir_)
        |ORDER BY touch_type""".stripMargin),

    // Tail-weighted EDF statistic (discrete Anderson–Darling form) on
    // q190's gate length split: squared CDF gaps weighted 1/(H(1−H))
    // blow up in the tails KS is blind to — two distributions can pass
    // KS and fail here on tail mass alone.
    Query("q258_ad_statistic", (s, dir) => {
      val gated = TextAnalysis.qualityGate(t(s, dir, "documents"),
        "doc_id", "text", keepInputCols = true)
      graft.operators.Profiling.adStatistic(gated, col("n_chars"),
        col("keep"))
    },
    // q190's histogram/cumulation, per-block term quantized to 2^20
    // before the sum; last block (B = N) skipped as zero-gap.
    oracle =
      s"""WITH $oGateCtes,
         |g AS (
         |  SELECT d.n_chars AS v, (vd.reasons = 0) AS r
         |  FROM documents d JOIN verdict vd USING (doc_id)),
         |hist AS (
         |  SELECT v, CAST(count(CASE WHEN r THEN 1 END) AS BIGINT) AS cr,
         |         CAST(count(CASE WHEN NOT r THEN 1 END) AS BIGINT) AS cc
         |  FROM g GROUP BY 1),
         |cum AS (
         |  SELECT v, cr, cc,
         |         CAST(sum(cr) OVER (ORDER BY v) AS BIGINT) AS m,
         |         CAST(sum(cr + cc) OVER (ORDER BY v) AS BIGINT) AS b,
         |         CAST(sum(cr) OVER () AS BIGINT) AS nr,
         |         CAST(sum(cc) OVER () AS BIGINT) AS ncur
         |  FROM hist),
         |t AS (
         |  SELECT nr, ncur,
         |         CASE WHEN b < nr + ncur AND nr > 0 AND ncur > 0
         |              THEN CAST(floor(
         |                CAST((nr + ncur) * m - nr * b AS DOUBLE) *
         |                CAST((nr + ncur) * m - nr * b AS DOUBLE) *
         |                CAST(cr + cc AS DOUBLE) /
         |                (CAST(nr AS DOUBLE) * CAST(ncur AS DOUBLE) *
         |                 CAST(b AS DOUBLE) *
         |                 CAST((nr + ncur) - b AS DOUBLE)) *
         |                CAST(1048576.0 AS DOUBLE)) AS BIGINT)
         |              ELSE CAST(0 AS BIGINT) END AS term_fp
         |  FROM cum)
         |SELECT CAST(min(nr) AS BIGINT) AS n_ref,
         |       CAST(min(ncur) AS BIGINT) AS n_cur,
         |       CAST(sum(term_fp) AS BIGINT) AS a2_fp,
         |       CASE WHEN min(nr) > 0 AND min(ncur) > 0
         |            THEN CAST(sum(term_fp) AS DOUBLE) /
         |                 CAST(1048576.0 AS DOUBLE) END AS a2
         |FROM t""".stripMargin),

    // Funnel time-to-convert QUANTILES: per converted stage, exact
    // p25/p50/p75 of lag from the funnel anchor — q109 reports the
    // mean; a skewed conversion lag makes the mean a lie, and this is
    // the read that shows it. Histogram quantiles over whole-second
    // lags.
    Query("q260_funnel_latency", (s, dir) => {
      val f = graft.operators.EventAnalytics.funnel(
        graft.io.TableIO.eventsNanos(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowNs = 86400000000000L)
      val lags = f.filter(col("stage_idx") > 1L)
        .withColumn("lag_s", expr("(ts - t1) DIV 1000000000"))
      graft.operators.ExactQuantiles.quantilesByGroup(lags, "stage",
        "lag_s", Seq(("p25", 1, 4), ("p50", 2, 4), ("p75", 3, 4)))
        .orderBy("stage")
    },
    // q109's stage CTEs, whole-second lags, q74's histogram quantile
    // reads per stage.
    oracle =
      s"""WITH ev AS (
         |  SELECT user_id, epoch_ns(ts) AS ns, event_type FROM events),
         |$oFunnelStageCtes,
         |st AS (
         |  SELECT 'click' AS stage, (t2 - t1) // 1000000000 AS lag_s FROM s2
         |  UNION ALL
         |  SELECT 'purchase', (t3 - t1) // 1000000000 FROM s3),
         |h AS (SELECT stage, lag_s AS v, count(*) AS c
         |      FROM st GROUP BY 1, 2),
         |cum AS (
         |  SELECT stage, v,
         |         sum(c) OVER (PARTITION BY stage ORDER BY v) AS cum,
         |         sum(c) OVER (PARTITION BY stage) AS n
         |  FROM h)
         |SELECT stage, CAST(min(n) AS BIGINT) AS n,
         |       min(CASE WHEN cum * 4 >= n * 1 THEN v END) AS p25,
         |       min(CASE WHEN cum * 4 >= n * 2 THEN v END) AS p50,
         |       min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS p75
         |FROM cum GROUP BY stage ORDER BY stage""".stripMargin),

    // Matryoshka prefix-dimension recall: exact top-5 by full 64-dim
    // cosine vs top-5 by the FIRST-16-dim prefix — how much ranking the
    // truncated representation keeps (the MRL serving question), per
    // query.
    Query("q261_matryoshka_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = queriesSubset(s, dir)
      def prefix(df: DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      val exact = Similarity.bruteForceTopK(qs, emb, "vec_id",
        "embedding", k = 5)
      val approx = Similarity.bruteForceTopK(prefix(qs), prefix(emb),
        "vec_id", "embedding", k = 5)
      Similarity.recallAtK(exact, approx, "qid", "nid", k = 5)
        .orderBy("qid")
    },
    // Full-dim brute top-5 vs FIRST-16-dim prefix top-5 (prefix norms
    // and dots over v[1:16] with the same fold shapes), per-query
    // recall.
    oracle = {
      def pCos(a: String, b: String) =
        s"""list_reduce(list_prepend(0.0, list_transform(range(16),
           |  i -> $a.v[i+1] * $b.v[i+1])), (x, y) -> x + y) / ($a.pnrm * $b.pnrm)""".stripMargin
      s"""WITH $oNorms,
         |pn AS (
         |  SELECT vec_id, v,
         |         sqrt(list_reduce(list_prepend(0.0,
         |           list_transform(v[1:16], x -> x*x)),
         |           (a, b) -> a + b)) AS pnrm
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings)),
         |bscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCos("q", "c")} AS cos
         |  FROM norms q JOIN norms c
         |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |branked AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, nid) AS rank
         |  FROM bscored),
         |brute AS (SELECT qid, nid FROM branked WHERE rank <= 5),
         |pscored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |         CASE WHEN q.pnrm * c.pnrm <> 0
         |              THEN ${pCos("q", "c")} END AS cos
         |  FROM pn q JOIN pn c
         |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |pranked AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC NULLS LAST, nid) AS rank
         |  FROM pscored),
         |pref AS (SELECT qid, nid FROM pranked WHERE rank <= 5)
         |SELECT b.qid, CAST(count(p.nid) AS BIGINT) AS hits,
         |       CAST(count(p.nid) AS DOUBLE) / 5 AS recall_at_5
         |FROM brute b LEFT JOIN pref p ON p.qid = b.qid AND p.nid = b.nid
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin
    }),

    // Single-linkage coherence audit: within each wide-simhash CC
    // cluster, the fraction of member PAIRS whose exact bigram Jaccard
    // clears the tier threshold — transitive closure chains A~B~C into
    // one cluster even when A and C share nothing; this measures how
    // much of that happened.
    Query("q262_cluster_coherence", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.operators.CacheScope.track(
        Dedup.simhashPairsWide(docs, "doc_id", "text", maxHamming = 3)
          .select("i", "j"))
      val comp = graft.operators.Components
        .connectedComponents(pairs, "i", "j")
      val members = comp.select(col("component"), col("id"))
      val intra = members.alias("a")
        .join(members.alias("b"),
          col("a.component") === col("b.component") &&
            col("a.id") < col("b.id"))
        .select(col("a.component").as("component"), col("a.id").as("i"),
          col("b.id").as("j"))
      val good = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2,
        threshold = 0.6).select("i", "j").withColumn("__g", lit(1L))
      intra.join(good, Seq("i", "j"), "left")
        .groupBy("component")
        .agg(count(lit(1)).as("n_pairs"), count(col("__g")).as("n_coherent"))
        .join(members.groupBy("component").agg(count(lit(1)).as("size")),
          "component")
        .withColumn("coherence",
          col("n_coherent").cast("double") / col("n_pairs").cast("double"))
        .select("component", "size", "n_pairs", "n_coherent", "coherence")
        .orderBy("component")
    },
    // Wide pairs → recursive CC over pair nodes → intra pairs LEFT
    // JOIN exact jac ≥ 0.6; one coherence row per cluster.
    oracle =
      s"""WITH RECURSIVE ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 3)},
         |edges AS (SELECT i AS u, j AS v FROM pairs
         |          UNION ALL SELECT j, i FROM pairs),
         |nodes AS (SELECT DISTINCT u AS node FROM edges),
         |reach(node, comp) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node),
         |lab AS (SELECT node AS id, min(comp) AS component
         |        FROM reach GROUP BY 1),
         |intra AS (
         |  SELECT a.component, a.id AS i, b.id AS j
         |  FROM lab a JOIN lab b
         |    ON a.component = b.component AND a.id < b.id),
         |${oJaccardCtes(2)},
         |good AS (SELECT i, j FROM jac WHERE jaccard >= 0.6),
         |per AS (
         |  SELECT intra.component, CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(count(g.i) AS BIGINT) AS n_coherent
         |  FROM intra LEFT JOIN good g
         |    ON g.i = intra.i AND g.j = intra.j
         |  GROUP BY 1),
         |csize AS (SELECT component, CAST(count(*) AS BIGINT) AS size
         |          FROM lab GROUP BY 1)
         |SELECT per.component, csize.size, per.n_pairs, per.n_coherent,
         |       CAST(per.n_coherent AS DOUBLE) /
         |         CAST(per.n_pairs AS DOUBLE) AS coherence
         |FROM per JOIN csize USING (component)
         |ORDER BY per.component""".stripMargin),

    // Kaplan–Meier survival of user lifetimes with right censoring
    // (quiet within 7 days of the horizon = censored, not churned) —
    // the naive retention read counts the censored as deaths and biases
    // every tail estimate down; this is the correction.
    Query("q263_kaplan_meier", (s, dir) =>
      graft.operators.EventAnalytics.kaplanMeier(
        graft.io.TableIO.eventsNanos(s, dir), "user_id",
        graft.functions.floorDivLit(col("ts"), 86400000000000L), censorGapDays = 7L)
        .orderBy("t"),
    // (first, last) spans per user, right-censored within 7 days of the
    // horizon; suffix-cumulated at-risk; survival = ordered left-fold
    // product of (1 − d/n) prefixes — the engine's driver fold replayed
    // as list_reduce over list(factor ORDER BY t).
    oracle =
      """WITH sp AS (
        |  SELECT user_id,
        |         CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT) AS f,
        |         CAST(max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT) AS l
        |  FROM events GROUP BY 1),
        |hz AS (SELECT max(l) AS h FROM sp),
        |obs AS (
        |  SELECT l - f AS t,
        |         CASE WHEN l < h - 7 THEN 1 ELSE 0 END AS evt
        |  FROM sp, hz),
        |dt0 AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c,
        |         CAST(sum(evt) AS BIGINT) AS d
        |  FROM obs GROUP BY 1),
        |dt AS (
        |  SELECT t, d,
        |         CAST(sum(c) OVER (ORDER BY t
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS BIGINT) AS n_risk
        |  FROM dt0),
        |fc AS (
        |  SELECT t, n_risk, d,
        |         CAST(1.0 AS DOUBLE) -
        |           CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
        |  FROM dt),
        |sv AS (
        |  SELECT a.t,
        |         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |           list(b.factor ORDER BY b.t)), (x, y) -> x * y)
        |           AS survival
        |  FROM fc a JOIN fc b ON b.t <= a.t GROUP BY 1)
        |SELECT fc.t, fc.n_risk, fc.d AS d_churn, fc.factor, sv.survival
        |FROM fc JOIN sv USING (t) ORDER BY fc.t""".stripMargin),

    // Weekday seasonal decomposition of daily event volume: per-weekday
    // mean component + residual — the calendar baseline to subtract
    // before any anomaly monitor reads the series; η² of the weekday
    // grouping (q235's ANOVA) is the strength of what this removes.
    Query("q264_seasonality", (s, dir) =>
      graft.operators.EventAnalytics.weekdayDecomposition(
        graft.io.TableIO.eventsNanos(s, dir),
        graft.functions.floorDivLit(col("ts"), 86400000000000L)).orderBy("bucket"),
    // Daily histogram, weekday = bucket mod 7, per-weekday (n, Σ)
    // broadcast back; mean and residual in fixed shapes.
    oracle =
      """WITH d AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |dd AS (SELECT bucket, x,
        |              ((bucket % 7) + 7) % 7 AS weekday FROM d),
        |wd AS (
        |  SELECT weekday, CAST(count(*) AS BIGINT) AS wd_n,
        |         CAST(sum(x) AS BIGINT) AS wd_sum
        |  FROM dd GROUP BY 1)
        |SELECT dd.bucket, dd.weekday, dd.x, wd.wd_n, wd.wd_sum,
        |       CAST(wd.wd_sum AS DOUBLE) / CAST(wd.wd_n AS DOUBLE)
        |         AS wd_mean,
        |       CAST(dd.x AS DOUBLE) -
        |         CAST(wd.wd_sum AS DOUBLE) / CAST(wd.wd_n AS DOUBLE)
        |         AS residual
        |FROM dd JOIN wd USING (weekday) ORDER BY dd.bucket""".stripMargin),

    // Column ENCODING advisor along the (orderkey, linenumber) physical
    // order: rows/NDV/runs per column and the RLE-vs-dict-vs-plain
    // verdict — the Parquet writer's implicit stats surfaced so layout
    // choices can be justified by measured run structure.
    Query("q265_encoding_advisor", (s, dir) =>
      graft.operators.Layout.encodingAdvisor(t(s, dir, "lineitem"),
        expr("l_orderkey DIV 64"),
        Seq(col("l_orderkey"), col("l_linenumber")),
        Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
          "l_orderkey"))
        .orderBy("column"),
    // Per-column rows/NDV/runs along (orderkey, linenumber); runs via a
    // lag recount (equality is intra-engine, so native values suffice);
    // thresholds are plan literals.
    oracle = {
      def block(c: String) =
        s"""SELECT '$c' AS "column",
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(DISTINCT v) AS BIGINT) AS ndv,
           |       CAST(count(CASE WHEN rn > 1 AND pv IS DISTINCT FROM v
           |                       THEN 1 END) + 1 AS BIGINT) AS runs
           |FROM (
           |  SELECT $c AS v, lag($c) OVER (ORDER BY rn) AS pv, rn
           |  FROM ord)""".stripMargin
      val blocks = Seq("l_returnflag", "l_linestatus", "l_shipdate",
        "l_quantity", "l_orderkey").map(block)
        .mkString("(\n", "\nUNION ALL\n", "\n)")
      s"""WITH ord AS (
         |  SELECT l_returnflag, l_linestatus, l_shipdate, l_quantity,
         |         l_orderkey,
         |         row_number() OVER (ORDER BY l_orderkey, l_linenumber)
         |           AS rn
         |  FROM lineitem),
         |per AS (SELECT * FROM $blocks)
         |SELECT "column", n_rows, ndv, runs,
         |       CASE WHEN n_rows > 0
         |            THEN CAST(runs AS DOUBLE) / CAST(n_rows AS DOUBLE)
         |       END AS runs_ratio,
         |       CASE WHEN n_rows > 0
         |            THEN CAST(ndv AS DOUBLE) / CAST(n_rows AS DOUBLE)
         |       END AS ndv_ratio,
         |       CASE WHEN runs * 8 <= n_rows THEN 'rle'
         |            WHEN ndv * 16 <= n_rows THEN 'dict'
         |            ELSE 'plain' END AS recommended
         |FROM per ORDER BY "column"""".stripMargin
    }),

    // ROBUST capacity trend: q278's OLS forecast re-fit on p10/p90
    // WINSORIZED daily volume — one spike day bends a least-squares
    // line, and the clipped re-fit shows by how much (slope delta =
    // the spike's leverage); both lines in one row per horizon day.
    Query("q289_robust_trend", (s, dir) => {
      val daily = graft.io.TableIO.eventsNanos(s, dir)
        .groupBy(graft.functions.floorDivLit(col("ts"), 86400000000000L).as("d"))
        .agg(count(lit(1)).as("y"))
        .withColumn("__g", lit(1))
      val clipped = graft.operators.ExactQuantiles.winsorizeByGroup(
        daily, "__g", "y", loNum = 1, hiNum = 9, den = 10)
      val bounds = daily.agg(min(col("d")).as("__d0"),
        max(col("d")).as("__dmax"))
      def fit(df: DataFrame, yCol: String, sfx: String) =
        graft.operators.Regression.trendByGroup(
          df.crossJoin(broadcast(bounds))
            .select((col("d") - col("__d0")).as("x"),
              col(yCol).as("y"), col("__g")),
          Seq("__g"), col("x"), col("y"))
          .select(col("slope").as(s"slope_$sfx"),
            col("intercept").as(s"intercept_$sfx"))
      fit(daily, "y", "raw")
        .crossJoin(fit(clipped, "y_clipped", "robust"))
        .crossJoin(broadcast(bounds))
        .select(explode(sequence(lit(1), lit(7))).as("__i"),
          col("slope_raw"), col("intercept_raw"), col("slope_robust"),
          col("intercept_robust"), col("__dmax"), col("__d0"))
        .withColumn("t_day", col("__dmax") + col("__i"))
        .select(col("t_day"), col("slope_raw"), col("slope_robust"),
          (col("intercept_raw") + col("slope_raw") *
            (col("t_day") - col("__d0")).cast("double"))
            .as("forecast_raw"),
          (col("intercept_robust") + col("slope_robust") *
            (col("t_day") - col("__d0")).cast("double"))
            .as("forecast_robust"))
        .withColumn("slope_delta", col("slope_raw") - col("slope_robust"))
        .orderBy("t_day")
    },
    // Daily histogram → q64 winsorize clip → two q118 OLS trees on
    // centered days → 7 rows of both forecasts + the slope delta.
    oracle = {
      def ols(src: String, sfx: String) =
        s"""s_$sfx AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |         CAST(sum(x * y) AS BIGINT) AS sxy,
           |         CAST(sum(x * x) AS BIGINT) AS sxx
           |  FROM $src),
           |tr_$sfx AS (
           |  SELECT CASE WHEN n * sxx - sx * sx != 0
           |              THEN (CAST(n * sxy - sx * sy AS DOUBLE) /
           |                    CAST(n * sxx - sx * sx AS DOUBLE)) END
           |           AS slope_$sfx,
           |         CASE WHEN n * sxx - sx * sx != 0
           |              THEN (CAST(sy AS DOUBLE) -
           |                    (CAST(n * sxy - sx * sy AS DOUBLE) /
           |                     CAST(n * sxx - sx * sx AS DOUBLE)) *
           |                    CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
           |         END AS intercept_$sfx
           |  FROM s_$sfx)""".stripMargin
      s"""WITH daily AS (
         |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         |         CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |bd AS (SELECT min(d) AS d0, max(d) AS dmax FROM daily),
         |cum AS (
         |  SELECT y AS v, count(*) AS c FROM daily GROUP BY 1),
         |cc AS (
         |  SELECT v, sum(c) OVER (ORDER BY v) AS cum,
         |         sum(c) OVER () AS n
         |  FROM cum),
         |qs AS (
         |  SELECT min(CASE WHEN cum * 10 >= n * 1 THEN v END) AS qlo,
         |         min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS qhi
         |  FROM cc),
         |raw AS (SELECT d - d0 AS x, y FROM daily, bd),
         |rob AS (
         |  SELECT d - d0 AS x, least(greatest(y, qlo), qhi) AS y
         |  FROM daily, bd, qs),
         |${ols("raw", "raw")},
         |${ols("rob", "robust")}
         |SELECT CAST(bd.dmax + t.i AS BIGINT) AS t_day,
         |       slope_raw, slope_robust,
         |       intercept_raw + slope_raw *
         |         CAST((bd.dmax + t.i) - bd.d0 AS DOUBLE) AS forecast_raw,
         |       intercept_robust + slope_robust *
         |         CAST((bd.dmax + t.i) - bd.d0 AS DOUBLE)
         |         AS forecast_robust,
         |       slope_raw - slope_robust AS slope_delta
         |FROM tr_raw, tr_robust, bd, range(1, 8) t(i)
         |ORDER BY t_day""".stripMargin
    }),

    // Intra-document CODE-SWITCH ranking: the 20 docs with the most
    // minority-language marker mass — a doc-level lang label (q27)
    // hides mixed documents; these need per-segment handling before a
    // monolingual filter eats them. Deterministic (minority, n_langs,
    // id) ordering.
    Query("q288_code_switch", (s, dir) => {
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
        TextAnalysis.langScore(col("text"), ms).as(s"s_$l")
      }
      val d = t(s, dir, "documents")
        .select(Seq(col("doc_id"), col("lang")) ++ scores: _*)
      val nLangs = langs.map(l => when(col(s"s_$l") > 0L, 1L)
        .otherwise(0L)).reduce(_ + _)
      val total = langs.map(l => col(s"s_$l")).reduce(_ + _)
      val maxS = greatest(langs.map(l => col(s"s_$l")): _*)
      d.withColumn("n_langs", nLangs)
        .withColumn("marker_total", total)
        .withColumn("minority_markers", total - maxS)
        .filter(col("marker_total") > 0L)
        .select(col("doc_id"), col("lang"), col("n_langs"),
          col("marker_total"), col("minority_markers"),
          (col("minority_markers").cast("double") /
            col("marker_total").cast("double")).as("mix_ratio"))
        .orderBy(desc("minority_markers"), desc("n_langs"), col("doc_id"))
        .limit(20)
    },
    // q27's marker-count expressions; docs hitting ≥ 2 languages, with
    // the minority share as one division of exact counts.
    oracle =
      s"""WITH scores AS (
         |  SELECT doc_id, lang,
         |         CAST(len(list_filter($oToks, t -> list_contains(['the','and','of','to','in','is'], t))) AS BIGINT) AS s_en,
         |         CAST(len(list_filter($oToks, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS BIGINT) AS s_de,
         |         CAST(len(list_filter($oToks, t -> list_contains(['el','la','los','que','una','por'], t))) AS BIGINT) AS s_es,
         |         CAST(len(list_filter($oToks, t -> list_contains(['le','les','des','est','une','dans'], t))) AS BIGINT) AS s_fr
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |         CAST((CASE WHEN s_en > 0 THEN 1 ELSE 0 END) +
         |              (CASE WHEN s_de > 0 THEN 1 ELSE 0 END) +
         |              (CASE WHEN s_es > 0 THEN 1 ELSE 0 END) +
         |              (CASE WHEN s_fr > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_langs,
         |         CAST(s_en + s_de + s_es + s_fr AS BIGINT) AS marker_total,
         |         CAST(s_en + s_de + s_es + s_fr -
         |              greatest(s_en, s_de, s_es, s_fr) AS BIGINT)
         |           AS minority_markers
         |  FROM scores)
         |SELECT doc_id, lang, n_langs, marker_total, minority_markers,
         |       CAST(minority_markers AS DOUBLE) /
         |         CAST(marker_total AS DOUBLE) AS mix_ratio
         |FROM m WHERE marker_total > 0
         |ORDER BY minority_markers DESC, n_langs DESC, doc_id
         |LIMIT 20""".stripMargin),

    // Threshold-TRANSFER regret: each lang's own argmax-F1 operating
    // point vs its F1 at the single GLOBAL threshold — the measured
    // price of shipping one cutoff for every language (q188 showed
    // per-slice AUC; this shows the per-slice cost of the decision).
    Query("q287_threshold_transfer", (s, dir) => {
      val scored = distillScored(s, dir)
      val hist = graft.operators.CacheScope.track(
        scored.groupBy(col("lang"), col("zq").as("t"))
          .agg(count(lit(1)).as("__c"),
            count(when(col("keep"), 1L)).as("__p")))
      val wDesc = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(desc("t"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val wLang = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
      def f1(tp: org.apache.spark.sql.Column, fp: org.apache.spark.sql.Column,
             fn: org.apache.spark.sql.Column) =
        when(lit(2L) * tp + fp + fn > 0L,
          (lit(2L) * tp).cast("double") /
            (lit(2L) * tp + fp + fn).cast("double"))
      val perLang = hist
        .withColumn("tp", sum(col("__p")).over(wDesc))
        .withColumn("fp", sum(col("__c") - col("__p")).over(wDesc))
        .withColumn("fn", sum(col("__p")).over(wLang) - col("tp"))
        .withColumn("f1", f1(col("tp"), col("fp"), col("fn")))
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(desc("f1"), col("t").asc)
      val best = perLang.filter(col("f1").isNotNull)
        .withColumn("__r", row_number().over(wBest))
        .filter(col("__r") === 1)
        .select(col("lang"), col("t").as("best_t"), col("f1").as("best_f1"))
      val globalT = graft.operators.Evaluation
        .f1OperatingPoint(scored, "zq", "keep")
        .select(col("threshold").as("global_t"))
      val atGlobal = hist.crossJoin(broadcast(globalT))
        .filter(col("t") >= col("global_t"))
        .groupBy("lang", "global_t")
        .agg(sum(col("__p")).as("tp"), sum(col("__c") - col("__p")).as("fp"))
        .join(hist.groupBy("lang").agg(sum(col("__p")).as("__P")), "lang")
        .withColumn("fn", col("__P") - col("tp"))
        .select(col("lang"), col("global_t"),
          f1(col("tp"), col("fp"), col("fn")).as("f1_at_global"))
      best.join(atGlobal, "lang")
        .withColumn("regret", col("best_f1") - col("f1_at_global"))
        .orderBy("lang")
    },
    // Per-lang descending-cum F1 curves, per-lang argmax (ties to the
    // smaller threshold), q209's global argmax, per-lang F1 at the
    // global cutoff, regret = best − at_global.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |h AS (
         |  SELECT d.lang, s.zq AS t, CAST(count(*) AS BIGINT) AS c,
         |         CAST(count(CASE WHEN s.keep THEN 1 END) AS BIGINT) AS p
         |  FROM scored s JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |pl AS (
         |  SELECT lang, t,
         |         CAST(sum(p) OVER (PARTITION BY lang ORDER BY t DESC)
         |           AS BIGINT) AS tp,
         |         CAST(sum(c - p) OVER (PARTITION BY lang ORDER BY t DESC)
         |           AS BIGINT) AS fp,
         |         CAST(sum(p) OVER (PARTITION BY lang) AS BIGINT) AS pall
         |  FROM h),
         |pf AS (
         |  SELECT lang, t, tp, fp,
         |         CASE WHEN 2 * tp + fp + (pall - tp) > 0
         |              THEN CAST(2 * tp AS DOUBLE) /
         |                   CAST(2 * tp + fp + (pall - tp) AS DOUBLE)
         |         END AS f1
         |  FROM pl),
         |best AS (
         |  SELECT lang, t AS best_t, f1 AS best_f1 FROM (
         |    SELECT lang, t, f1,
         |           row_number() OVER (PARTITION BY lang
         |             ORDER BY f1 DESC, t) AS r
         |    FROM pf WHERE f1 IS NOT NULL) WHERE r = 1),
         |gh AS (SELECT t, CAST(sum(c) AS BIGINT) AS c,
         |              CAST(sum(p) AS BIGINT) AS p
         |       FROM h GROUP BY 1),
         |gc AS (
         |  SELECT t,
         |         CAST(sum(p) OVER (ORDER BY t DESC) AS BIGINT) AS tp,
         |         CAST(sum(c - p) OVER (ORDER BY t DESC) AS BIGINT) AS fp,
         |         CAST(sum(p) OVER () AS BIGINT) AS pall
         |  FROM gh),
         |gf AS (
         |  SELECT t,
         |         CASE WHEN 2 * tp + fp + (pall - tp) > 0
         |              THEN CAST(2 * tp AS DOUBLE) /
         |                   CAST(2 * tp + fp + (pall - tp) AS DOUBLE)
         |         END AS f1
         |  FROM gc),
         |gt AS (SELECT t AS global_t FROM gf ORDER BY f1 DESC, t LIMIT 1),
         |ag AS (
         |  SELECT h.lang, gt.global_t, CAST(sum(h.p) AS BIGINT) AS tp,
         |         CAST(sum(h.c - h.p) AS BIGINT) AS fp
         |  FROM h, gt WHERE h.t >= gt.global_t GROUP BY 1, 2),
         |ptot AS (SELECT lang, CAST(sum(p) AS BIGINT) AS pall
         |         FROM h GROUP BY 1),
         |agf AS (
         |  SELECT ag.lang, ag.global_t,
         |         CASE WHEN 2 * ag.tp + ag.fp + (ptot.pall - ag.tp) > 0
         |              THEN CAST(2 * ag.tp AS DOUBLE) /
         |                   CAST(2 * ag.tp + ag.fp + (ptot.pall - ag.tp)
         |                     AS DOUBLE)
         |         END AS f1_at_global
         |  FROM ag JOIN ptot USING (lang))
         |SELECT best.lang, best.best_t, best.best_f1, agf.global_t,
         |       agf.f1_at_global,
         |       best.best_f1 - agf.f1_at_global AS regret
         |FROM best JOIN agf USING (lang) ORDER BY lang""".stripMargin),

    // Inter-arrival quantiles per event type: exact p50/p90 of
    // per-user consecutive gaps (whole seconds) — the burstiness read
    // under the dispersion verdict (q253); per-user lag windows, then
    // histogram quantiles over gap values.
    Query("q285_interarrival", (s, dir) => {
      val ev = graft.io.TableIO.eventsNanos(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val gaps = ev
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"),
          expr("(ts - __prev) DIV 1000000000").as("gap_s"))
      graft.operators.ExactQuantiles.quantilesByGroup(gaps, "event_type",
        "gap_s", Seq(("p50", 1, 2), ("p90", 9, 10)))
        .orderBy("event_type")
    },
    // Per-(user, type) lag gaps in whole seconds; the q74 histogram
    // quantile chain per type.
    oracle =
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(epoch_ns(ts) AS BIGINT) AS tsn,
        |         event_id
        |  FROM events),
        |g AS (
        |  SELECT event_type, (tsn - prev) // 1000000000 AS gap_s FROM (
        |    SELECT event_type, tsn,
        |           lag(tsn) OVER (PARTITION BY user_id, event_type
        |             ORDER BY tsn, event_id) AS prev
        |    FROM ev)
        |  WHERE prev IS NOT NULL),
        |h AS (SELECT event_type, gap_s AS v, count(*) AS c
        |      FROM g GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, v,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type, CAST(min(n) AS BIGINT) AS n,
        |       min(CASE WHEN cum * 2 >= n * 1 THEN v END) AS p50,
        |       min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p90
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Top-k vocabulary STABILITY: for each source, the overlap between
    // the global top-10 tokens and the top-10 with that source REMOVED
    // — does any single source dictate the vocabulary head? The
    // leave-one-out influence read on q33's token ranking.
    Query("q286_topk_stability", (s, dir) => {
      val tok = t(s, dir, "documents").select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("t"))
      val g = graft.operators.CacheScope.track(
        tok.groupBy("t").agg(count(lit(1)).as("gc")))
      val sc = tok.groupBy("source", "t").agg(count(lit(1)).as("sc"))
      val wG = org.apache.spark.sql.expressions.Window
        .orderBy(desc("gc"), col("t")) // vocab rows
      val topG = g.withColumn("__r", row_number().over(wG))
        .filter(col("__r") <= 10).select(col("t"))
      val sources = t(s, dir, "documents").select("source").distinct()
      val wo = sources.crossJoin(g)
        .join(sc, Seq("source", "t"), "left")
        .withColumn("wc", col("gc") - coalesce(col("sc"), lit(0L)))
        .filter(col("wc") > 0L)
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("wc"), col("t"))
      val topWo = wo.withColumn("__r", row_number().over(wS))
        .filter(col("__r") <= 10).select(col("source"), col("t"))
      topWo.join(topG, Seq("t"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("overlap_at_10"))
        .join(sources, Seq("source"), "right")
        .select(col("source"),
          coalesce(col("overlap_at_10"), lit(0L)).as("overlap_at_10"))
        .orderBy("source")
    },
    // Global top-10 vs per-source leave-one-out top-10 on the token
    // histogram; overlap per source, absent sources report 0.
    oracle =
      s"""WITH tok AS (
         |  SELECT source, unnest($oToks) AS t FROM documents),
         |g AS (SELECT t, CAST(count(*) AS BIGINT) AS gc
         |      FROM tok GROUP BY 1),
         |topg AS (
         |  SELECT t FROM (
         |    SELECT t, row_number() OVER (ORDER BY gc DESC, t) AS r
         |    FROM g) WHERE r <= 10),
         |sc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS sc
         |       FROM tok GROUP BY 1, 2),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |wo AS (
         |  SELECT srcs.source, g.t,
         |         g.gc - COALESCE(sc.sc, 0) AS wc
         |  FROM srcs CROSS JOIN g
         |  LEFT JOIN sc ON sc.source = srcs.source AND sc.t = g.t),
         |topwo AS (
         |  SELECT source, t FROM (
         |    SELECT source, t,
         |           row_number() OVER (PARTITION BY source
         |             ORDER BY wc DESC, t) AS r
         |    FROM wo WHERE wc > 0) WHERE r <= 10),
         |ov AS (
         |  SELECT tw.source, CAST(count(*) AS BIGINT) AS overlap_at_10
         |  FROM topwo tw JOIN topg ON topg.t = tw.t
         |  GROUP BY 1)
         |SELECT srcs.source,
         |       CAST(COALESCE(ov.overlap_at_10, 0) AS BIGINT)
         |         AS overlap_at_10
         |FROM srcs LEFT JOIN ov USING (source)
         |ORDER BY source""".stripMargin),

    // Margin audit of q150's contrastive triplets: cos(a,p) − cos(a,n)
    // per triplet — a triplet set whose margins skew negative teaches a
    // model the WRONG metric; this is the QA read before training on
    // it. Fixed-point mean, exact counts, min/max extremes.
    Query("q284_triplet_margin", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
        strideCentroids(s, dir), threshold = 0.3)
      val tri = Similarity.contrastiveTriplets(pairs, emb, "vec_id",
        buckets = 64)
      def vec(as: String) = emb.select(col("vec_id").as(as),
        col("embedding").as(s"__v_$as"),
        graft.functions.l2NormF(col("embedding")).as(s"__n_$as"))
      def cos(x: String, y: String) =
        when(col(s"__n_$x") * col(s"__n_$y") =!= 0.0,
          graft.functions.dotProductF(col(s"__v_$x"), col(s"__v_$y")) /
            (col(s"__n_$x") * col(s"__n_$y")))
      tri.join(vec("anchor"), "anchor")
        .join(vec("positive"), "positive")
        .join(vec("negative"), "negative")
        .withColumn("__m",
          cos("anchor", "positive") - cos("anchor", "negative"))
        .agg(count(lit(1)).as("n_triplets"),
          count(col("__m")).as("n_defined"),
          count(when(col("__m") > 0.0, 1L)).as("n_positive_margin"),
          min(col("__m")).as("min_margin"),
          max(col("__m")).as("max_margin"),
          sum(floor(col("__m") * lit(1048576.0)).cast("long")).as("__mfp"))
        .withColumn("mean_margin",
          when(col("n_defined") > 0L,
            col("__mfp").cast("double") /
              (col("n_defined") * lit(1048576L)).cast("double")))
        .drop("__mfp")
    },
    // q150's triplet chain wrapped with three norm joins; per-triplet
    // margin guarded per cos; fixed-point mean over defined margins.
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
         |tri AS (
         |  SELECT anchor, positive, negative FROM (
         |    SELECT p.anchor, p.positive,
         |           CASE WHEN r1.r1 <> p.anchor AND r1.r1 <> p.positive THEN r1.r1
         |                WHEN r2.r2 <> p.anchor AND r2.r2 <> p.positive THEN r2.r2
         |           END AS negative
         |    FROM p
         |    LEFT JOIN r1 ON r1.b = (((p.anchor % 2147483648) * 2654435761) % 4294967296) % 64
         |    LEFT JOIN r2 ON r2.b = (((p.anchor % 2147483648) * 2654435761) % 4294967296) % 64)
         |  WHERE negative IS NOT NULL),
         |mt AS (
         |  SELECT CASE WHEN na.nrm * np.nrm <> 0 AND na.nrm * nn.nrm <> 0
         |              THEN (${oCos("na", "np")}) - (${oCos("na", "nn")})
         |         END AS m
         |  FROM tri
         |  JOIN norms na ON na.vec_id = tri.anchor
         |  JOIN norms np ON np.vec_id = tri.positive
         |  JOIN norms nn ON nn.vec_id = tri.negative),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triplets,
         |         CAST(count(m) AS BIGINT) AS n_defined,
         |         CAST(count(CASE WHEN m > 0.0 THEN 1 END) AS BIGINT)
         |           AS n_positive_margin,
         |         min(m) AS min_margin, max(m) AS max_margin,
         |         CAST(COALESCE(sum(CAST(floor(m * CAST(1048576.0 AS DOUBLE))
         |           AS BIGINT)), 0) AS BIGINT) AS mfp
         |  FROM mt)
         |SELECT n_triplets, n_defined, n_positive_margin, min_margin,
         |       max_margin,
         |       CASE WHEN n_defined > 0
         |            THEN CAST(mfp AS DOUBLE) /
         |                 CAST(n_defined * 1048576 AS DOUBLE)
         |       END AS mean_margin
         |FROM a""".stripMargin),

    // Scorecard for the engine's OWN lang-id heuristic against the
    // labeled lang column: per-class recall/precision + overall
    // accuracy — q27 is the raw confusion table; this is the verdict
    // a consumer reads before trusting the heuristic as a filter.
    Query("q282_langid_scorecard", (s, dir) => {
      val pred = t(s, dir, "documents").select(col("lang"),
        TextAnalysis.langId(col("text")).as("predicted"))
      val perLang = pred.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          count(when(col("predicted") === col("lang"), 1L)).as("correct"))
      val perPred = pred.groupBy(col("predicted").as("lang"))
        .agg(count(lit(1)).as("predicted_n"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      perLang.join(perPred, Seq("lang"), "left")
        .withColumn("predicted_n", coalesce(col("predicted_n"), lit(0L)))
        .withColumn("recall",
          col("correct").cast("double") / col("n").cast("double"))
        .withColumn("precision",
          when(col("predicted_n") > 0L,
            col("correct").cast("double") /
              col("predicted_n").cast("double")))
        .withColumn("accuracy",
          sum(col("correct")).over(wAll).cast("double") /
            sum(col("n")).over(wAll).cast("double"))
        .orderBy("lang")
    },
    // q27's pred CTE; per-actual recall, per-predicted precision,
    // overall accuracy from the same counts.
    oracle =
      s"""WITH $oLangIdCtes,
         |pl AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(CASE WHEN predicted = lang THEN 1 END)
         |           AS BIGINT) AS correct
         |  FROM pred GROUP BY 1),
         |pp AS (
         |  SELECT predicted AS lang, CAST(count(*) AS BIGINT)
         |           AS predicted_n
         |  FROM pred GROUP BY 1),
         |j AS (
         |  SELECT pl.lang, pl.n, pl.correct,
         |         CAST(COALESCE(pp.predicted_n, 0) AS BIGINT)
         |           AS predicted_n
         |  FROM pl LEFT JOIN pp USING (lang))
         |SELECT lang, n, correct, predicted_n,
         |       CAST(correct AS DOUBLE) / CAST(n AS DOUBLE) AS recall,
         |       CASE WHEN predicted_n > 0
         |            THEN CAST(correct AS DOUBLE) /
         |                 CAST(predicted_n AS DOUBLE) END AS "precision",
         |       CAST(CAST(sum(correct) OVER () AS BIGINT) AS DOUBLE) /
         |         CAST(CAST(sum(n) OVER () AS BIGINT) AS DOUBLE)
         |         AS accuracy
         |FROM j ORDER BY lang""".stripMargin),

    // Zipf mass profile of the token distribution: top-1 / top-10 /
    // tail shares of total token mass (rank windows over VOCAB rows
    // only) — the log-free concentration read behind vocabulary and
    // stopword decisions.
    Query("q283_zipf_profile", (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("c"), col("t")) // vocab rows only
      tf.withColumn("r", row_number().over(w))
        .agg(count(lit(1)).as("vocab"), sum(col("c")).as("total_tokens"),
          coalesce(sum(when(col("r") === 1, col("c"))), lit(0L))
            .as("top1_c"),
          coalesce(sum(when(col("r") <= 10, col("c"))), lit(0L))
            .as("top10_c"),
          min(when(col("r") === 1, col("t"))).as("top1_token"))
        .select(col("vocab"), col("total_tokens"), col("top1_token"),
          col("top1_c"), col("top10_c"),
          when(col("total_tokens") > 0L,
            col("top1_c").cast("double") /
              col("total_tokens").cast("double")).as("top1_share"),
          when(col("total_tokens") > 0L,
            col("top10_c").cast("double") /
              col("total_tokens").cast("double")).as("top10_share"),
          when(col("total_tokens") > 0L,
            (col("total_tokens") - col("top10_c")).cast("double") /
              col("total_tokens").cast("double")).as("tail_share"))
    },
    // Vocab-row rank window; top-k masses as exact BIGINTs, shares one
    // division each.
    oracle =
      s"""WITH tf AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT unnest($oToks) AS t FROM documents)
         |  GROUP BY 1),
         |rk AS (
         |  SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS r
         |  FROM tf),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS vocab,
         |         CAST(sum(c) AS BIGINT) AS total_tokens,
         |         CAST(COALESCE(sum(CASE WHEN r = 1 THEN c END), 0)
         |           AS BIGINT) AS top1_c,
         |         CAST(COALESCE(sum(CASE WHEN r <= 10 THEN c END), 0)
         |           AS BIGINT) AS top10_c,
         |         min(CASE WHEN r = 1 THEN t END) AS top1_token
         |  FROM rk)
         |SELECT vocab, total_tokens, top1_token, top1_c, top10_c,
         |       CASE WHEN total_tokens > 0
         |            THEN CAST(top1_c AS DOUBLE) /
         |                 CAST(total_tokens AS DOUBLE) END AS top1_share,
         |       CASE WHEN total_tokens > 0
         |            THEN CAST(top10_c AS DOUBLE) /
         |                 CAST(total_tokens AS DOUBLE) END AS top10_share,
         |       CASE WHEN total_tokens > 0
         |            THEN CAST(total_tokens - top10_c AS DOUBLE) /
         |                 CAST(total_tokens AS DOUBLE) END AS tail_share
         |FROM a""".stripMargin),

    // The round's audit families composed into ONE release verdict row
    // (the q230 discipline over THIS batch): split integrity (SRM χ²),
    // source balance (Jain), tail drift (AD statistic), calibration
    // (conformal coverage), concentration (max Lorenz-Gini) — booleans
    // + the numbers behind them; it honestly fails the test corpus on
    // gate length bias (a2 ≈ 120).
    Query("q280_audit_verdict", (s, dir) => {
      val docs = graft.operators.CacheScope.track(t(s, dir, "documents"))
      val srm = graft.operators.Profiling.ratioMismatchAudit(
        Sampling.hashSplit(docs, "doc_id", 80, 10).select("split"),
        "split", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .agg(max(col("chi2")).as("srm_chi2"))
      val jain = graft.operators.Profiling.jainFairness(docs, "source")
        .select(col("jain"))
      val gated = TextAnalysis.qualityGate(docs, "doc_id", "text",
        keepInputCols = true)
      val ad = graft.operators.Profiling.adStatistic(gated,
        col("n_chars"), col("keep")).select(col("a2"))
      val conf = graft.operators.Evaluation.conformalGate(
        distillScored(s, dir), "doc_id", "zq", "keep")
        .select(col("coverage"))
      val gini = graft.operators.Profiling.lorenzGiniByGroup(docs,
        "source", col("n_chars"))
        .agg(max(col("gini")).as("max_gini"))
      srm.crossJoin(jain).crossJoin(ad).crossJoin(conf).crossJoin(gini)
        .withColumn("split_ok", col("srm_chi2") < 16.27)
        .withColumn("balance_ok", col("jain") >= 0.8)
        .withColumn("tail_ok", col("a2") <= 10.0)
        .withColumn("calibration_ok", col("coverage") >= 0.85)
        .withColumn("concentration_ok", col("max_gini") <= 0.9)
        .withColumn("ship",
          col("split_ok") && col("balance_ok") && col("tail_ok") &&
            col("calibration_ok") && col("concentration_ok"))
        .orderBy("ship")
    },
    // One inclusion of the distill/gate CTEs feeds the AD and conformal
    // arms; SRM/Jain/Gini read documents directly; thresholds are plan
    // literals; ship = AND of the booleans.
    oracle =
      s"""WITH $oDistillScoredCtes,
         |sb AS (
         |  SELECT CASE WHEN bkt < 80 THEN 'train'
         |              WHEN bkt < 90 THEN 'val' ELSE 'test' END AS label
         |  FROM (SELECT (((doc_id % 2147483648) * 2654435761)
         |                  % 4294967296) % 100 AS bkt FROM documents)),
         |scnt AS (SELECT label, CAST(count(*) AS BIGINT) AS observed
         |         FROM sb GROUP BY 1),
         |sj AS (
         |  SELECT e.label, e.expected_p,
         |         CAST(COALESCE(scnt.observed, 0) AS BIGINT) AS observed
         |  FROM (VALUES ('train', CAST(0.8 AS DOUBLE)),
         |               ('val', CAST(0.1 AS DOUBLE)),
         |               ('test', CAST(0.1 AS DOUBLE))) e(label, expected_p)
         |  LEFT JOIN scnt USING (label)),
         |sw AS (
         |  SELECT label, observed, expected_p,
         |         CAST(sum(observed) OVER () AS BIGINT) AS n
         |  FROM sj),
         |stm AS (
         |  SELECT CAST(floor((CAST(observed AS DOUBLE) -
         |             expected_p * CAST(n AS DOUBLE)) *
         |           (CAST(observed AS DOUBLE) -
         |             expected_p * CAST(n AS DOUBLE)) /
         |           (expected_p * CAST(n AS DOUBLE)) *
         |           CAST(1073741824.0 AS DOUBLE)) AS BIGINT) AS term_fp
         |  FROM sw),
         |srm AS (
         |  SELECT CAST(CAST(sum(term_fp) AS BIGINT) AS DOUBLE) /
         |           CAST(1073741824.0 AS DOUBLE) AS srm_chi2
         |  FROM stm),
         |jg AS (SELECT source, CAST(count(*) AS BIGINT) AS x
         |       FROM documents WHERE source IS NOT NULL GROUP BY 1),
         |jain AS (
         |  SELECT CASE WHEN CAST(sum(x * x) AS BIGINT) > 0
         |              THEN CAST(CAST(sum(x) AS BIGINT) *
         |                        CAST(sum(x) AS BIGINT) AS DOUBLE) /
         |                   CAST(CAST(count(*) AS BIGINT) *
         |                        CAST(sum(x * x) AS BIGINT) AS DOUBLE)
         |         END AS jain
         |  FROM jg),
         |ahist AS (
         |  SELECT d.n_chars AS v,
         |         CAST(count(CASE WHEN vd.reasons = 0 THEN 1 END) AS BIGINT)
         |           AS cr,
         |         CAST(count(CASE WHEN NOT (vd.reasons = 0) THEN 1 END)
         |           AS BIGINT) AS cc2
         |  FROM documents d JOIN verdict vd USING (doc_id) GROUP BY 1),
         |acum AS (
         |  SELECT v, cr, cc2,
         |         CAST(sum(cr) OVER (ORDER BY v) AS BIGINT) AS m,
         |         CAST(sum(cr + cc2) OVER (ORDER BY v) AS BIGINT) AS b,
         |         CAST(sum(cr) OVER () AS BIGINT) AS nr,
         |         CAST(sum(cc2) OVER () AS BIGINT) AS ncur
         |  FROM ahist),
         |at AS (
         |  SELECT CASE WHEN b < nr + ncur AND nr > 0 AND ncur > 0
         |              THEN CAST(floor(
         |                CAST((nr + ncur) * m - nr * b AS DOUBLE) *
         |                CAST((nr + ncur) * m - nr * b AS DOUBLE) *
         |                CAST(cr + cc2 AS DOUBLE) /
         |                (CAST(nr AS DOUBLE) * CAST(ncur AS DOUBLE) *
         |                 CAST(b AS DOUBLE) *
         |                 CAST((nr + ncur) - b AS DOUBLE)) *
         |                CAST(1048576.0 AS DOUBLE)) AS BIGINT)
         |              ELSE CAST(0 AS BIGINT) END AS term_fp,
         |         nr, ncur
         |  FROM acum),
         |ad AS (
         |  SELECT CASE WHEN min(nr) > 0 AND min(ncur) > 0
         |              THEN CAST(sum(term_fp) AS DOUBLE) /
         |                   CAST(1048576.0 AS DOUBLE) END AS a2
         |  FROM at),
         |wb AS (
         |  SELECT doc_id, zq, keep,
         |         (((doc_id % 2147483648) * 2654435761) % 4294967296)
         |           % 100 < 50 AS cal
         |  FROM scored),
         |wch AS (
         |  SELECT zq AS s, CAST(count(*) AS BIGINT) AS c
         |  FROM wb WHERE cal AND keep GROUP BY 1),
         |wcc AS (
         |  SELECT s, CAST(sum(c) OVER (ORDER BY s) AS BIGINT) AS cum,
         |         CAST(sum(c) OVER () AS BIGINT) AS ncal
         |  FROM wch),
         |wthr AS (
         |  SELECT min(s) AS t FROM wcc
         |  WHERE cum >= (ncal + 1) // 10 AND (ncal + 1) // 10 >= 1),
         |conf AS (
         |  SELECT CASE WHEN CAST(count(CASE WHEN keep THEN 1 END)
         |                      AS BIGINT) > 0
         |              THEN CAST(CAST(count(CASE WHEN keep AND
         |                     (t IS NULL OR zq >= t) THEN 1 END) AS BIGINT)
         |                     AS DOUBLE) /
         |                   CAST(CAST(count(CASE WHEN keep THEN 1 END)
         |                     AS BIGINT) AS DOUBLE)
         |         END AS coverage
         |  FROM wb, wthr WHERE NOT cal),
         |gh AS (
         |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
         |  GROUP BY 1, 2),
         |gc AS (
         |  SELECT source, v, c,
         |         CAST(COALESCE(sum(c) OVER (PARTITION BY source ORDER BY v
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum0
         |  FROM gh),
         |ga AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |         CAST(sum(v * c) AS BIGINT) AS total,
         |         CAST(sum(v * (c * cum0 + c * (c + 1) // 2)) AS BIGINT)
         |           AS rank_sum
         |  FROM gc GROUP BY 1),
         |gini AS (
         |  SELECT max(CASE WHEN total > 0
         |                  THEN CAST(2 * rank_sum - (n + 1) * total
         |                         AS DOUBLE) /
         |                       CAST(n * total AS DOUBLE) END) AS max_gini
         |  FROM ga)
         |SELECT srm.srm_chi2, jain.jain, ad.a2, conf.coverage,
         |       gini.max_gini,
         |       srm.srm_chi2 < CAST(16.27 AS DOUBLE) AS split_ok,
         |       jain.jain >= CAST(0.8 AS DOUBLE) AS balance_ok,
         |       ad.a2 <= CAST(10.0 AS DOUBLE) AS tail_ok,
         |       conf.coverage >= CAST(0.85 AS DOUBLE) AS calibration_ok,
         |       gini.max_gini <= CAST(0.9 AS DOUBLE) AS concentration_ok,
         |       srm.srm_chi2 < CAST(16.27 AS DOUBLE) AND
         |       jain.jain >= CAST(0.8 AS DOUBLE) AND
         |       ad.a2 <= CAST(10.0 AS DOUBLE) AND
         |       conf.coverage >= CAST(0.85 AS DOUBLE) AND
         |       gini.max_gini <= CAST(0.9 AS DOUBLE) AS ship
         |FROM srm, jain, ad, conf, gini""".stripMargin),

    // One-row GRAPH DATASHEET of the co-engagement graph: nodes, edges,
    // density, degree assortativity, giant-component share — the
    // structure card a graph-backed tier publishes beside the corpus
    // datasheet (q146).
    Query("q281_graph_datasheet", (s, dir) => {
      val edges = graft.operators.CacheScope.track(
        graft.operators.Cooccur.coEngagementPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxDegree = 6)
          .select(col("item_a"), col("item_b")))
      // Shared symmetrized degree table (the graphHealthCheck pattern):
      // node count and assortativity both read it — was a distinct-union
      // count plus Triangles.assortativity's own dedup+degree pass.
      val sym = edges.select(col("item_a").as("__u"), col("item_b").as("__v"))
        .union(edges.select(col("item_b").as("__u"), col("item_a").as("__v")))
      val deg = graft.operators.CacheScope.track(
        sym.groupBy(col("__u")).agg(count(lit(1)).as("__deg")))
      val counts = deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      val dpairs = sym
        .join(deg.select(col("__u"), col("__deg").as("__du")), "__u")
        .join(deg.select(col("__u").as("__v"), col("__deg").as("__dv")), "__v")
        .withColumn("__g", lit(1))
      val assort = graft.operators.Regression.corrByGroup(dpairs, Seq("__g"),
        col("__du"), col("__dv")).select(col("corr").as("assortativity"))
      val giant = graft.operators.Components
        .connectedComponents(edges, "item_a", "item_b")
        .groupBy("component").agg(count(lit(1)).as("__sz"))
        .agg(coalesce(max(col("__sz")), lit(0L)).as("giant_size"))
      counts.crossJoin(assort).crossJoin(giant)
        .withColumn("density",
          when(col("n_nodes") > 1L,
            (lit(2L) * col("n_edges")).cast("double") /
              (col("n_nodes") * (col("n_nodes") - 1L)).cast("double")))
        .withColumn("giant_share",
          when(col("n_nodes") > 0L,
            col("giant_size").cast("double") /
              col("n_nodes").cast("double")))
        .select("n_nodes", "n_edges", "density", "assortativity",
          "giant_size", "giant_share")
        .orderBy("n_nodes")
    },
    // Capped pair graph; density/giant/assortativity one-row card.
    // CC via the unrolled hook+jump chain (oUnrolledCcCtes).
    oracle =
      s"""WITH ${oItemPairCtes(materialized = true)},
        |${oGraphDatasheetCtes("giant")}
        |SELECT cnts.n_nodes, cnts.n_edges,
        |       CASE WHEN cnts.n_nodes > 1
        |            THEN CAST(2 * cnts.n_edges AS DOUBLE) /
        |                 CAST(cnts.n_nodes * (cnts.n_nodes - 1) AS DOUBLE)
        |       END AS density,
        |       assort.assortativity, giant.giant_size,
        |       CASE WHEN cnts.n_nodes > 0
        |            THEN CAST(giant.giant_size AS DOUBLE) /
        |                 CAST(cnts.n_nodes AS DOUBLE) END AS giant_share
        |FROM cnts, assort, giant""".stripMargin),

    // Wilson score intervals on per-lang gate keep-rates: the binomial
    // CI that behaves at small n and extreme p̂ — a 3-of-4 group and a
    // 750-of-1000 group both read 75%; only the interval says which to
    // trust.
    Query("q277_wilson_interval", (s, dir) => {
      val gated = TextAnalysis.qualityGate(t(s, dir, "documents"),
        "doc_id", "text", keepInputCols = true)
      graft.operators.Profiling.wilsonIntervalByGroup(gated, "lang",
        col("keep")).orderBy("group")
    },
    // Gate keep counts per lang; the Wilson center/half expressions in
    // the engine's exact double shapes. z² goes through a STRING cast:
    // DuckDB parses a bare 17-digit decimal via DECIMAL whose numerator
    // exceeds 2^53, double-rounding one ulp high; CAST('…' AS DOUBLE)
    // parses correctly (verified against the bit pattern).
    oracle = {
      val z2 = "CAST('3.8415999999999997' AS DOUBLE)"
      val z = "CAST(1.96 AS DOUBLE)"
      val nD = "CAST(n AS DOUBLE)"
      val p = s"CAST(k AS DOUBLE) / $nD"
      val denom = s"(CAST(1.0 AS DOUBLE) + $z2 / $nD)"
      val center = s"(($p + $z2 / (CAST(2.0 AS DOUBLE) * $nD)) / $denom)"
      val half = s"(($z * sqrt(($p) * (CAST(1.0 AS DOUBLE) - ($p)) / $nD + $z2 / (CAST(4.0 AS DOUBLE) * $nD * $nD))) / $denom)"
      s"""WITH $oGateCtes,
         |g AS (
         |  SELECT d.lang AS "group", (vd.reasons = 0) AS s
         |  FROM documents d JOIN verdict vd USING (doc_id)),
         |a AS (
         |  SELECT "group", CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(CASE WHEN s THEN 1 END) AS BIGINT) AS k
         |  FROM g GROUP BY 1)
         |SELECT "group", n, k,
         |       CASE WHEN n > 0 THEN $p END AS p_hat,
         |       CASE WHEN n > 0
         |            THEN greatest(CAST(0.0 AS DOUBLE), $center - $half)
         |       END AS wilson_lo,
         |       CASE WHEN n > 0
         |            THEN least(CAST(1.0 AS DOUBLE), $center + $half)
         |       END AS wilson_hi
         |FROM a ORDER BY "group"""".stripMargin
    }),

    // Capacity forecast: OLS trend on centered daily event volume,
    // extrapolated 7 days past the horizon — the "will next week fit"
    // ops read, exact sufficient statistics under a fixed-shape line.
    Query("q278_capacity_forecast", (s, dir) => {
      val daily = graft.io.TableIO.eventsNanos(s, dir)
        .groupBy(graft.functions.floorDivLit(col("ts"), 86400000000000L).as("d"))
        .agg(count(lit(1)).as("y"))
      val bounds = daily.agg(min(col("d")).as("__d0"),
        max(col("d")).as("__dmax"))
      val base = daily.crossJoin(broadcast(bounds))
        .select((col("d") - col("__d0")).as("x"), col("y"),
          lit(1).as("__g"))
      val tr = graft.operators.Regression.trendByGroup(base, Seq("__g"),
        col("x"), col("y"))
      tr.crossJoin(broadcast(bounds))
        .select(explode(sequence(lit(1), lit(7))).as("__i"), col("slope"),
          col("intercept"), col("__dmax"), col("__d0"))
        .withColumn("t_day", col("__dmax") + col("__i"))
        .select(col("t_day"), col("slope"), col("intercept"),
          (col("intercept") + col("slope") *
            (col("t_day") - col("__d0")).cast("double")).as("forecast"))
        .orderBy("t_day")
    },
    // q118's OLS trees on centered days, 7 extrapolation rows.
    oracle = {
      val slope = """(CAST(n * sxy - sx * sy AS DOUBLE) /
                    |             CAST(n * sxx - sx * sx AS DOUBLE))""".stripMargin
      s"""WITH daily AS (
         |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         |         CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |bd AS (SELECT min(d) AS d0, max(d) AS dmax FROM daily),
         |b AS (SELECT d - d0 AS x, y, d0, dmax FROM daily, bd),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(min(d0) AS BIGINT) AS d0, CAST(min(dmax) AS BIGINT)
         |           AS dmax
         |  FROM b),
         |tr AS (
         |  SELECT CASE WHEN n * sxx - sx * sx != 0
         |              THEN $slope END AS slope,
         |         CASE WHEN n * sxx - sx * sx != 0
         |              THEN (CAST(sy AS DOUBLE) -
         |                    $slope * CAST(sx AS DOUBLE)) /
         |                   CAST(n AS DOUBLE) END AS intercept,
         |         d0, dmax
         |  FROM s)
         |SELECT CAST(dmax + t.i AS BIGINT) AS t_day, slope, intercept,
         |       intercept + slope * CAST((dmax + t.i) - d0 AS DOUBLE)
         |         AS forecast
         |FROM tr, range(1, 8) t(i)
         |ORDER BY t_day""".stripMargin
    }),

    // Per-language Pareto frontiers: q250's skyline with the exclusive
    // running-max window partitioned by lang — one frontier per
    // stratum, no single-partition funnel at any group count.
    Query("q279_skyline_by_lang", (s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
        col("n_chars"),
        floor(TextAnalysis.qualityScore(col("text")) * lit(1048576L))
          .cast("long").as("qfp"))
      graft.operators.TopK.skyline2DByGroup(d, "lang", col("n_chars"),
        col("qfp")).orderBy("lang", "doc_id")
    },
    // q250's NOT-EXISTS dominance scoped per lang.
    oracle =
      s"""WITH m AS (SELECT doc_id, lang, n_chars, text, $oToks AS tk
         |           FROM documents),
         |f AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(floor(
         |           (least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |            + least(CAST(len(tk) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |            + (CAST(1.0 AS DOUBLE) - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS DOUBLE)
         |                   / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))) / CAST(3.0 AS DOUBLE)
         |           * CAST(1048576 AS DOUBLE)) AS BIGINT) AS qfp
         |  FROM m)
         |SELECT p.lang, p.doc_id, p.n_chars, p.qfp
         |FROM f p
         |WHERE p.lang IS NOT NULL AND p.n_chars IS NOT NULL
         |  AND p.qfp IS NOT NULL
         |  AND NOT EXISTS (
         |    SELECT 1 FROM f q
         |    WHERE q.lang = p.lang
         |      AND q.n_chars >= p.n_chars AND q.qfp >= p.qfp
         |      AND (q.n_chars > p.n_chars OR q.qfp > p.qfp))
         |ORDER BY p.lang, p.doc_id""".stripMargin),

    // Cohort LTV: weekly cohorts × offset weeks with exact-cents
    // revenue, cumulative per cohort, normalized per user — the value
    // read on top of q110's retention counts.
    Query("q274_cohort_ltv", (s, dir) => {
      val ev = graft.io.TableIO.eventsNanos(s, dir)
        .select(col("user_id"), graft.functions.floorDivLit(col("ts"), 86400000000000L).as("__d"),
          floor(col("value") * lit(100.0)).cast("long").as("__c"))
      val first = ev.groupBy("user_id").agg(min(col("__d")).as("__f"))
      // FLOOR, not DIV: __f (a user's first epoch-day) can be negative
      // for pre-epoch events, and the oracle's `//` floors.
      val sized = first.withColumn("cohort",
        graft.functions.floorDivLit(col("__f"), 7L))
      val cohortUsers = sized.groupBy("cohort")
        .agg(count(lit(1)).as("cohort_users"))
      val cells = ev.join(sized, "user_id")
        .withColumn("offset", expr("(__d - __f) DIV 7"))
        .groupBy("cohort", "offset")
        .agg(sum(col("__c")).as("revenue_cents"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort").orderBy("offset")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      cells
        .withColumn("cum_cents", sum(col("revenue_cents")).over(wCum))
        .join(cohortUsers, "cohort")
        .withColumn("ltv_per_user_cents",
          col("cum_cents").cast("double") /
            col("cohort_users").cast("double"))
        .select("cohort", "offset", "revenue_cents", "cum_cents",
          "cohort_users", "ltv_per_user_cents")
        .orderBy("cohort", "offset")
    },
    // Weekly cohorts from per-user first days; exact-cents revenue per
    // (cohort, offset); cumulative per cohort; one division per row.
    oracle =
      """WITH ev AS (
        |  SELECT user_id, CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |           AS d,
        |         CAST(floor(value * CAST(100.0 AS DOUBLE)) AS BIGINT) AS c
        |  FROM events),
        |f AS (SELECT user_id, CAST(min(d) AS BIGINT) AS fd
        |      FROM ev GROUP BY 1),
        |sz AS (SELECT ((fd - (((fd % 7) + 7) % 7)) // 7) AS cohort, CAST(count(*) AS BIGINT)
        |         AS cohort_users
        |       FROM f GROUP BY 1),
        |cells AS (
        |  SELECT ((f.fd - (((f.fd % 7) + 7) % 7)) // 7) AS cohort, (ev.d - f.fd) // 7 AS "offset",
        |         CAST(sum(ev.c) AS BIGINT) AS revenue_cents
        |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, "offset", revenue_cents,
        |         CAST(sum(revenue_cents) OVER (PARTITION BY cohort
        |           ORDER BY "offset") AS BIGINT) AS cum_cents
        |  FROM cells)
        |SELECT cum.cohort, cum."offset", cum.revenue_cents, cum.cum_cents,
        |       sz.cohort_users,
        |       CAST(cum.cum_cents AS DOUBLE) /
        |         CAST(sz.cohort_users AS DOUBLE) AS ltv_per_user_cents
        |FROM cum JOIN sz USING (cohort)
        |ORDER BY cohort, "offset"""".stripMargin),

    // Dedup-aware sampling: one canonical doc per wide-tier cluster,
    // priority-sampled with weight = CLUSTER SIZE — the sample that
    // preserves pre-dedup mass (a 50-copy template counts as 50, not
    // 1) while never emitting a duplicate.
    Query("q275_dedup_aware_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 3).select("i", "j")
      val clusters = graft.operators.Components.dedupClusters(docs,
        "doc_id", pairs)
      val canon = clusters.filter(col("is_canonical") === 1L)
        .select(col("doc_id"), col("n_members"))
      Sampling.prioritySample(canon, "doc_id", "n_members", k = 30)
        .orderBy("rank")
    },
    // Recursive CC labels every doc (singletons self-labeled); the
    // canonical set carries cluster sizes into the q138 priority
    // formula with weight = n_members.
    oracle =
      s"""WITH RECURSIVE ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 3)},
         |${oFloodCtes("doc_id", "documents", groupBy = "1")},
         |szs AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
         |        FROM lab GROUP BY 1),
         |canon AS (
         |  SELECT l.doc_id, s.n_members
         |  FROM lab l JOIN szs s USING (component)
         |  WHERE l.doc_id = l.component),
         |h AS (
         |  SELECT doc_id, n_members,
         |         CAST(n_members AS DOUBLE) * 4294967296 /
         |           CAST((((doc_id % 2147483648) * 2654435761)
         |             % 4294967296) + 1 AS DOUBLE) AS priority
         |  FROM canon WHERE n_members > 0),
         |rk AS (
         |  SELECT doc_id, n_members, priority,
         |         row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
         |  FROM h),
         |tau AS (
         |  SELECT coalesce(min(priority), 0.0) AS tau FROM rk WHERE rn = 31)
         |SELECT doc_id, n_members, CAST(rn AS BIGINT) AS rank, priority,
         |       greatest(CAST(n_members AS DOUBLE), tau.tau) AS est_weight
         |FROM rk CROSS JOIN tau
         |WHERE rn <= 30 ORDER BY rank""".stripMargin),

    // Audience overlap between event types: shared distinct users per
    // type pair with Jaccard and both conditional shares — "do viewers
    // purchase", the cross-surface read.
    Query("q276_audience_overlap", (s, dir) => {
      val au = graft.io.TableIO.eventsNanos(s, dir)
        .select(col("event_type").as("__t"), col("user_id").as("__u"))
        .distinct()
      val sz = au.groupBy("__t").agg(count(lit(1)).as("__n"))
      val a = au.select(col("__t").as("type_a"), col("__u"))
      val b = au.select(col("__t").as("type_b"), col("__u"))
      a.join(b, "__u").filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("overlap"))
        .join(sz.select(col("__t").as("type_a"), col("__n").as("users_a")),
          "type_a")
        .join(sz.select(col("__t").as("type_b"), col("__n").as("users_b")),
          "type_b")
        .select(col("type_a"), col("type_b"), col("users_a"),
          col("users_b"), col("overlap"),
          (col("overlap").cast("double") /
            (col("users_a") + col("users_b") - col("overlap"))
              .cast("double")).as("jaccard"),
          (col("overlap").cast("double") / col("users_a").cast("double"))
            .as("share_of_a"),
          (col("overlap").cast("double") / col("users_b").cast("double"))
            .as("share_of_b"))
        .orderBy("type_a", "type_b")
    },
    // Distinct (type, user) self-join per pair; Jaccard + both
    // conditional shares, one division each.
    oracle =
      """WITH au AS (
        |  SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |sz AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM au GROUP BY 1),
        |p AS (
        |  SELECT a.t AS type_a, b.t AS type_b,
        |         CAST(count(*) AS BIGINT) AS overlap
        |  FROM au a JOIN au b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, sa.n AS users_a, sb.n AS users_b,
        |       p.overlap,
        |       CAST(p.overlap AS DOUBLE) /
        |         CAST(sa.n + sb.n - p.overlap AS DOUBLE) AS jaccard,
        |       CAST(p.overlap AS DOUBLE) / CAST(sa.n AS DOUBLE)
        |         AS share_of_a,
        |       CAST(p.overlap AS DOUBLE) / CAST(sb.n AS DOUBLE)
        |         AS share_of_b
        |FROM p JOIN sz sa ON sa.t = p.type_a
        |JOIN sz sb ON sb.t = p.type_b
        |ORDER BY type_a, type_b""".stripMargin),

    // Bitemporal AS-OF snapshots off the SCD2 history: every user's
    // state at min_ts + 10 days and + 25 days — reproducible time
    // travel over row histories, two snapshots from one version table.
    Query("q270_bitemporal_asof", (s, dir) => {
      val ev = graft.io.TableIO.eventsNanos(s, dir)
      val hist = graft.operators.Cdc.scd2(ev, "user_id", "event_type",
        "ts", "event_id")
      val t0 = ev.agg(min(col("ts")).as("__t0"))
      def snap(offsetDays: Long) = {
        val at = col("__t0") + lit(offsetDays * 86400000000000L)
        hist.crossJoin(broadcast(t0))
          .filter(col("valid_from") <= at &&
            (col("valid_to").isNull || at < col("valid_to")))
          .select(lit(offsetDays).as("as_of_day"), col("user_id"),
            col("version"), col("event_type").as("state"))
      }
      snap(10L).unionByName(snap(25L)).orderBy("as_of_day", "user_id")
    },
    // SCD2 versions on nanosecond ts, two literal-offset snapshots from
    // the min-ts anchor.
    oracle =
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(epoch_ns(ts) AS BIGINT) AS tsn,
        |         event_id
        |  FROM events),
        |t0 AS (SELECT min(tsn) AS t0 FROM ev),
        |chg AS (
        |  SELECT user_id, event_type, tsn, event_id FROM (
        |    SELECT user_id, event_type, tsn, event_id,
        |           lag(event_type) OVER (PARTITION BY user_id
        |             ORDER BY tsn, event_id) AS prev
        |    FROM ev)
        |  WHERE prev IS NULL OR prev != event_type),
        |hist AS (
        |  SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
        |         event_type, tsn AS valid_from, lead(tsn) OVER w AS valid_to
        |  FROM chg
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
        |snap AS (
        |  SELECT CAST(d.off AS BIGINT) AS as_of_day, h.user_id, h.version,
        |         h.event_type AS state
        |  FROM hist h, t0, (VALUES (10), (25)) d(off)
        |  WHERE h.valid_from <= t0.t0 + d.off * 86400000000000
        |    AND (h.valid_to IS NULL OR
        |         t0.t0 + d.off * 86400000000000 < h.valid_to))
        |SELECT as_of_day, user_id, version, state
        |FROM snap ORDER BY as_of_day, user_id""".stripMargin),

    // Class-separation matrix: cosine between label CENTROIDS in
    // embedding space — high inter-centroid cosine predicts confusion
    // for any nearest-centroid consumer and flags label noise before
    // training does. Centroid-sized arithmetic only.
    Query("q271_class_separation", (s, dir) =>
      graft.operators.EmbeddingStats.classSeparation(
        t(s, dir, "embeddings"), "embedding", "label")
        .orderBy("label_a", "label_b"),
    // q229's per-dim fixed-point chain grouped by label; per-dim
    // centroid products/squares quantized to 2^30 before the cross-dim
    // totals; cos = dot_fp / sqrt(nsq_a·nsq_b), scale cancels.
    oracle =
      """WITH ev AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |px AS (SELECT label, t.i AS dim, v[t.i + 1] AS x
        |       FROM ev, range(64) t(i)),
        |ag AS (
        |  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(floor(x * 1048576) AS BIGINT)) AS BIGINT)
        |           AS s
        |  FROM px GROUP BY 1, 2),
        |m AS (
        |  SELECT label, dim,
        |         CAST(s AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS mu
        |  FROM ag),
        |nrm AS (
        |  SELECT label,
        |         CAST(sum(CAST(floor(mu * mu * CAST(1073741824.0 AS DOUBLE))
        |           AS BIGINT)) AS BIGINT) AS nsq
        |  FROM m GROUP BY 1),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |         CAST(sum(CAST(floor(a.mu * b.mu *
        |           CAST(1073741824.0 AS DOUBLE)) AS BIGINT)) AS BIGINT)
        |           AS dot_fp
        |  FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT p.label_a, p.label_b, p.dot_fp, na.nsq AS nsq_a,
        |       nb.nsq AS nsq_b,
        |       CASE WHEN na.nsq > 0 AND nb.nsq > 0
        |            THEN CAST(p.dot_fp AS DOUBLE) /
        |                 sqrt(CAST(na.nsq AS DOUBLE) *
        |                      CAST(nb.nsq AS DOUBLE)) END AS cos
        |FROM p JOIN nrm na ON na.label = p.label_a
        |JOIN nrm nb ON nb.label = p.label_b
        |ORDER BY label_a, label_b""".stripMargin),

    // Near-dup EVIDENCE: for each wide-tier pair, the shared-shingle
    // count and the rarest shared shingle (the most distinctive
    // witness) — the "why are these duplicates" diagnostic a human
    // reviewer reads before trusting a dedup tier.
    Query("q272_dup_evidence", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 2).select("i", "j")
      val sh = graft.operators.CacheScope.track(docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.shingles(
          graft.functions.tokens(col("text")), 2))).as("s")))
      val df = sh.groupBy("s").agg(count(lit(1)).as("__df"))
      val shared = pairs
        .join(sh.select(col("doc_id").as("i"), col("s")), "i")
        .join(sh.select(col("doc_id").as("j"), col("s")), Seq("j", "s"))
        .join(df, "s")
      shared.groupBy("i", "j")
        .agg(count(lit(1)).as("n_shared"),
          min(struct(col("__df"), col("s"))).getField("__df")
            .as("witness_df"),
          min(struct(col("__df"), col("s"))).getField("s").as("witness"))
        .join(pairs, Seq("i", "j"), "right")
        .select(col("i"), col("j"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          col("witness_df"), col("witness"))
        .orderBy("i", "j")
    },
    // Wide pairs at hamming 2; shared distinct bigram shingles with
    // corpus df; the witness = the (df, shingle)-min shared shingle.
    oracle =
      s"""WITH ${oWideSimhashCtes()},
         |${oWidePairsCte("cand", 2)},
         |toks AS (SELECT doc_id, $oToks AS tk FROM documents),
         |shg AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(tk)),
         |      i -> list_aggregate(tk[i:i+1], 'string_agg', ' ')))) AS s
         |  FROM toks),
         |dfx AS (SELECT s, CAST(count(*) AS BIGINT) AS df
         |        FROM shg GROUP BY 1),
         |shared AS (
         |  SELECT c.i, c.j, x.s, dfx.df
         |  FROM cand c
         |  JOIN shg x ON x.doc_id = c.i
         |  JOIN shg y ON y.doc_id = c.j AND y.s = x.s
         |  JOIN dfx ON dfx.s = x.s),
         |agg AS (
         |  SELECT i, j, CAST(count(*) AS BIGINT) AS n_shared,
         |         CAST(min(df) AS BIGINT) AS witness_df,
         |         first(s ORDER BY df, s) AS witness
         |  FROM shared GROUP BY 1, 2)
         |SELECT c.i, c.j,
         |       CAST(COALESCE(a.n_shared, 0) AS BIGINT) AS n_shared,
         |       a.witness_df, a.witness
         |FROM cand c LEFT JOIN agg a ON a.i = c.i AND a.j = c.j
         |ORDER BY c.i, c.j""".stripMargin),

    // Incremental connected components: the dup-graph labeling
    // maintained under a NEW edge batch via star edges — work ∝ batch,
    // never the historical pair set; gate = the full-recompute labels.
    Query("q273_incr_cc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val all = graft.operators.CacheScope.track(
        Dedup.simhashPairsWide(docs, "doc_id", "text", maxHamming = 3)
          .select("i", "j"))
      val oldPairs = all.filter(col("j") < 400)
      val newPairs = all.filter(col("j") >= 400)
      val oldLabels = graft.operators.Components
        .connectedComponents(oldPairs, "i", "j")
      graft.operators.Components
        .incrementalComponents(oldLabels, newPairs, "i", "j")
        .orderBy("id")
    },
    // The incremental labeling equals a full recompute over ALL pairs
    // (min-label CC is associative over edge unions) — so the oracle IS
    // the full recursive CC.
    oracle =
      s"""WITH RECURSIVE ${oWideSimhashCtes()},
         |${oWidePairsCte("pairs", 3)},
         |edges AS (SELECT i AS u, j AS v FROM pairs
         |          UNION ALL SELECT j, i FROM pairs),
         |nodes AS (SELECT DISTINCT u AS node FROM edges),
         |reach(node, comp) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node)
         |SELECT node AS id, CAST(min(comp) AS BIGINT) AS component
         |FROM reach GROUP BY 1 ORDER BY id""".stripMargin),

    // Offline changepoint by binary segmentation: the day whose
    // two-segment fit minimizes total SSE — "when did the level
    // actually shift", where q201's CUSUM is the online alarm.
    Query("q266_changepoint", (s, dir) =>
      graft.operators.EventAnalytics.binaryChangepoint(
        graft.io.TableIO.eventsNanos(s, dir),
        graft.functions.floorDivLit(col("ts"), 86400000000000L)),
    // Prefix (n, Σ, Σx²) over day rows; per-split SSE in fixed double
    // shapes; argmin by (sse, t).
    oracle =
      """WITH d AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT t,
        |         CAST(sum(1) OVER (ORDER BY t) AS BIGINT) AS nl,
        |         CAST(sum(x) OVER (ORDER BY t) AS BIGINT) AS sl,
        |         CAST(sum(x * x) OVER (ORDER BY t) AS BIGINT) AS ql,
        |         CAST(count(*) OVER () AS BIGINT) AS n,
        |         CAST(sum(x) OVER () AS BIGINT) AS s,
        |         CAST(sum(x * x) OVER () AS BIGINT) AS q
        |  FROM d),
        |c AS (
        |  SELECT t, nl, n - nl AS nr, sl, s - sl AS sr, ql, q - ql AS qr,
        |         n, s, q
        |  FROM p WHERE nl < n),
        |e AS (
        |  SELECT *,
        |         (CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) *
        |            CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) +
        |         (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) *
        |            CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) AS sse
        |  FROM c)
        |SELECT t AS split_t, nl AS n_left, nr AS n_right,
        |       CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) AS mean_left,
        |       CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) AS mean_right,
        |       sse AS sse_split,
        |       CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |         CAST(n AS DOUBLE) AS sse_total,
        |       CASE WHEN CAST(q AS DOUBLE) - CAST(s AS DOUBLE) *
        |                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
        |            THEN CAST(1.0 AS DOUBLE) - sse /
        |                 (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) *
        |                    CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |       END AS reduction
        |FROM e ORDER BY sse, t LIMIT 1""".stripMargin),

    // RFM segmentation: per-user recency/frequency/monetary quartile
    // codes (tie-stable value-ntiles) histogrammed into segments — the
    // classic engagement read, exact cents for monetary.
    Query("q267_rfm", (s, dir) => {
      val ev = graft.io.TableIO.eventsNanos(s, dir)
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(graft.functions.floorDivLit(col("ts"), 86400000000000L)).as("__last"),
          count(lit(1)).as("frequency"),
          sum(floor(col("value") * lit(100.0)).cast("long")).as("monetary"))
      val hz = perUser.agg(max(col("__last")).as("__h"))
      val rfm = perUser.crossJoin(broadcast(hz))
        .withColumn("recency", col("__h") - col("__last"))
        .withColumn("__g", lit(1))
      val coded = Seq("recency", "frequency", "monetary")
        .foldLeft(rfm)((d, c) =>
          graft.operators.ExactQuantiles.valueNtile(d, "__g", c, 4))
      coded.groupBy(col("recency_bucket").as("r"),
        col("frequency_bucket").as("f"), col("monetary_bucket").as("m"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r", "f", "m")
    },
    // Per-user (recency, frequency, cents) then the q75 ceiling-bucket
    // formula on each metric's histogram; segment histogram.
    oracle = {
      def nt(metric: String) =
        s"""h_$metric AS (
           |  SELECT $metric AS v, count(*) AS c FROM rfm GROUP BY 1),
           |b_$metric AS (
           |  SELECT v, CAST((sum(c) OVER (ORDER BY v) * 4 - 1)
           |    // (sum(c) OVER ()) + 1 AS BIGINT) AS bucket
           |  FROM h_$metric)""".stripMargin
      s"""WITH pu AS (
         |  SELECT user_id,
         |         CAST(max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT)
         |           AS last_d,
         |         CAST(count(*) AS BIGINT) AS frequency,
         |         CAST(sum(CAST(floor(value * CAST(100.0 AS DOUBLE))
         |           AS BIGINT)) AS BIGINT) AS monetary
         |  FROM events GROUP BY 1),
         |hz AS (SELECT max(last_d) AS h FROM pu),
         |rfm AS (
         |  SELECT user_id, h - last_d AS recency, frequency, monetary
         |  FROM pu, hz),
         |${nt("recency")},
         |${nt("frequency")},
         |${nt("monetary")}
         |SELECT br.bucket AS r, bf.bucket AS f, bm.bucket AS m,
         |       CAST(count(*) AS BIGINT) AS n_users
         |FROM rfm
         |JOIN b_recency br ON br.v = rfm.recency
         |JOIN b_frequency bf ON bf.v = rfm.frequency
         |JOIN b_monetary bm ON bm.v = rfm.monetary
         |GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin
    }),

    // Degree assortativity of the co-engagement graph: do hubs attach
    // to hubs (positive) or to leaves (negative)? Both orientations per
    // edge, exact sufficient statistics, one sqrt.
    Query("q268_assortativity", (s, dir) =>
      graft.operators.Triangles.assortativity(
        graft.operators.Cooccur.coEngagementPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxDegree = 6),
        "item_a", "item_b").orderBy("n_edges"),
    // q251's capped pair graph; degrees over both orientations; the
    // corrByGroup closed form on (du, dv) edge rows.
    oracle =
      s"""WITH ${oItemPairCtes(materialized = false)},
         |dg AS (SELECT u, CAST(count(DISTINCT v) AS BIGINT) AS deg
         |       FROM sym GROUP BY 1),
         |rows_ AS (
         |  SELECT du.deg AS x, dv.deg AS y
         |  FROM sym JOIN dg du ON du.u = sym.u
         |  JOIN dg dv ON dv.u = sym.v),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM rows_)
         |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
         |       CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
         |            THEN CAST(n * sxy - sx * sy AS DOUBLE) /
         |                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
         |                      CAST(n * syy - sy * sy AS DOUBLE))
         |       END AS corr
         |FROM st""".stripMargin),

    // Graph robustness: giant-component size before vs after removing
    // the top-5 degree hubs — how much connectivity the hubs carry; the
    // percolation read behind "is this dup graph one blob or many".
    Query("q269_hub_removal", (s, dir) => {
      val edges = graft.operators.CacheScope.track(
        graft.operators.Cooccur.coEngagementPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxDegree = 6)
          .select(col("item_a"), col("item_b")))
      val sym = edges.union(edges.select(col("item_b"), col("item_a")))
      // count ≡ count_distinct here: unique a<b pairs symmetrized (see
      // the graphHealthCheck note) — saves the second dedup shuffle.
      // deg is cached: the hub ranking feeds THREE broadcast builds
      // (two anti-joins + the removed-edge semi-join), each of which
      // would otherwise re-run the degree aggregate.
      val deg = graft.operators.CacheScope.track(
        sym.groupBy(col("item_a").as("node"))
          .agg(count(col("item_b")).as("deg")))
      val hubs = deg.orderBy(desc("deg"), col("node")).limit(5)
        .select(col("node").as("__hub"))
      val filtered = edges
        .join(broadcast(hubs), col("item_a") === col("__hub"), "left_anti")
        .join(broadcast(hubs), col("item_b") === col("__hub"), "left_anti")
      // ONE full CC + incremental recovery of the pre-removal labeling
      // (the graphHealthCheck identity: edges = filtered ⊎ removed, so
      // CC(star(CC(filtered)) ∪ removed) = CC(edges) row-for-row).
      val removed = edges.join(broadcast(hubs),
        col("item_a") === col("__hub") || col("item_b") === col("__hub"),
        "left_semi")
      val ccAfter = graft.operators.CacheScope.track(
        graft.operators.Components.connectedComponents(filtered,
          "item_a", "item_b"))
      val ccBefore = graft.operators.Components.incrementalComponents(
        ccAfter, removed, "item_a", "item_b")
      def giant(cc: DataFrame) = cc
        .groupBy("component").agg(count(lit(1)).as("__sz"))
        .agg(coalesce(max(col("__sz")), lit(0L)).as("g"),
          coalesce(sum(col("__sz")), lit(0L)).as("n"))
      giant(ccBefore)
        .select(col("n").as("n_nodes"), col("g").as("giant_before"))
        .crossJoin(giant(ccAfter)
          .select(col("g").as("giant_after")))
        .withColumn("retained",
          when(col("giant_before") > 0L,
            col("giant_after").cast("double") /
              col("giant_before").cast("double")))
    },
    // Two CCs (full graph, hub-filtered graph) via the unrolled
    // hook+jump chain (oUnrolledCcCtes — the recursive form was a
    // 68 s oracle); giant = max component size, nodes = labeled nodes.
    oracle =
      s"""WITH ${oItemPairCtes(materialized = true)},
        |dg AS (SELECT u AS node, CAST(count(DISTINCT v) AS BIGINT) AS deg
        |       FROM sym GROUP BY 1),
        |hubs AS (SELECT node FROM dg ORDER BY deg DESC, node LIMIT 5),
        |e1 AS MATERIALIZED (SELECT u, v FROM sym),
        |n1 AS (SELECT DISTINCT u AS node FROM e1),
        |${oUnrolledCcCtes("a", "n1", "e1")},
        |g1 AS (SELECT CAST(max(sz) + (SELECT poison FROM achg) AS BIGINT)
        |         AS giant_before FROM (
        |         SELECT component, count(*) AS sz FROM alab GROUP BY 1)),
        |e2 AS MATERIALIZED (
        |  SELECT u, v FROM sym
        |  WHERE u NOT IN (SELECT node FROM hubs)
        |    AND v NOT IN (SELECT node FROM hubs)),
        |n2 AS (SELECT DISTINCT u AS node FROM e2),
        |${oUnrolledCcCtes("b", "n2", "e2")},
        |g2 AS (SELECT CAST(COALESCE(max(sz), 0) + (SELECT poison FROM bchg)
        |         AS BIGINT) AS giant_after
        |       FROM (SELECT component, count(*) AS sz FROM blab GROUP BY 1))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM alab) AS n_nodes,
        |       g1.giant_before, g2.giant_after,
        |       CASE WHEN g1.giant_before > 0
        |            THEN CAST(g2.giant_after AS DOUBLE) /
        |                 CAST(g1.giant_before AS DOUBLE) END AS retained
        |FROM g1, g2""".stripMargin),

    // Join-strategy ADVISOR: skew report + coordinated-sample join-size
    // estimate + build-side cardinality composed into one verdict row —
    // broadcast when the build side fits, salt when the probe side's
    // hot key breaks the reducer budget, shuffle otherwise; the
    // planning read an engine does from stats, surfaced as data.
    Query("q259_join_advisor", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      val sk = graft.operators.Skew.skewReport(li, "l_orderkey",
        partitions = 32)
      val est = graft.operators.Sketch.joinSizeEstimate(li,
        ords.select(col("o_orderkey").as("l_orderkey")), "l_orderkey",
        rate = 8)
      val rb = ords.agg(count(lit(1)).as("rows_b"))
      sk.select(col("n_rows").as("rows_a"), col("n_keys"), col("max_cnt"),
        col("max_key"), col("skew_ratio"), col("salt_factor"))
        .crossJoin(broadcast(rb))
        .crossJoin(broadcast(est.select("est_join_rows")))
        .withColumn("strategy",
          when(col("rows_b") <= 100000L, "broadcast_b")
            .when(col("skew_ratio") > 8.0, "salted_shuffle")
            .otherwise("shuffle"))
        .withColumn("recommended_salt",
          when(col("strategy") === "salted_shuffle", col("salt_factor"))
            .otherwise(lit(1L)))
        .orderBy("rows_a")
    },
    // q177's skew formulas + q178's coordinated-sample estimate +
    // build-side count, composed; thresholds are plan literals.
    oracle =
      """WITH h AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS k,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS rows_a,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(c) AS BIGINT) AS max_cnt
        |  FROM h),
        |hot AS (SELECT min(k) AS max_key FROM h, tot WHERE c = max_cnt),
        |sk AS (
        |  SELECT rows_a, n_keys, max_cnt, max_key,
        |         (CAST(max_cnt * n_keys AS DOUBLE) / CAST(rows_a AS DOUBLE))
        |           AS skew_ratio,
        |         CAST((max_cnt * 32 + rows_a - 1) // rows_a AS BIGINT)
        |           AS salt_factor
        |  FROM tot, hot),
        |rb AS (SELECT CAST(count(*) AS BIGINT) AS rows_b FROM orders),
        |sa AS (
        |  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
        |  FROM lineitem
        |  WHERE (((l_orderkey % 2147483648) * 2654435761) % 4294967296)
        |          % 8 = 0
        |  GROUP BY 1),
        |sb AS (
        |  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
        |  FROM orders
        |  WHERE (((o_orderkey % 2147483648) * 2654435761) % 4294967296)
        |          % 8 = 0
        |  GROUP BY 1),
        |est AS (
        |  SELECT CAST(COALESCE(sum(ca * cb) * 8, 0) AS BIGINT)
        |           AS est_join_rows
        |  FROM sa JOIN sb USING (k)),
        |v AS (SELECT * FROM sk, rb, est)
        |SELECT rows_a, n_keys, max_cnt, max_key, skew_ratio, salt_factor,
        |       rows_b, est_join_rows,
        |       CASE WHEN rows_b <= 100000 THEN 'broadcast_b'
        |            WHEN skew_ratio > 8.0 THEN 'salted_shuffle'
        |            ELSE 'shuffle' END AS strategy,
        |       CAST(CASE WHEN rows_b > 100000 AND skew_ratio > 8.0
        |                 THEN salt_factor ELSE 1 END AS BIGINT)
        |         AS recommended_salt
        |FROM v""".stripMargin),
  )

  /** q220/q221's shared CDC chunk chain (suffix-parameterized): token
    * rows with positions, 4-gram hashes at their END token, mod-16 cut
    * flags, chunk ids via the shifted cumulative cut count, and per-chunk
    * digests — the long-form spelling of
    * [[graft.operators.Chunking.contentDefinedChunks]]'s array-side plan.
    * Produces CTEs `toks$sfx … ch$sfx`; read `ch$sfx(doc_id, chunk_idx,
    * n_tokens, digest)`.
    */
  private def oCdcChunkCtes(sfx: String, srcSql: String): String =
    s"""toks$sfx AS (SELECT doc_id, $oToks AS tk FROM ($srcSql)),
       |tr$sfx AS (
       |  SELECT doc_id, u.p AS p, u.tok AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(range(len(tk)),
       |      i -> {'p': i, 'tok': tk[i + 1]})) AS u
       |    FROM toks$sfx)),
       |g$sfx AS (
       |  SELECT doc_id, u.pend AS pend, ${oPolyHash("u.gram")} AS h FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
       |      i -> {'pend': i + 2,
       |            'gram': list_aggregate(tk[i:i+3], 'string_agg', ' ')}))
       |      AS u
       |    FROM toks$sfx)),
       |cuts$sfx AS (SELECT doc_id, pend AS p FROM g$sfx WHERE h % 16 = 0),
       |f$sfx AS (
       |  SELECT t.doc_id, t.p, t.tok,
       |         CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END AS cut
       |  FROM tr$sfx t LEFT JOIN cuts$sfx c
       |    ON c.doc_id = t.doc_id AND c.p = t.p),
       |cid$sfx AS (
       |  SELECT doc_id, p, tok,
       |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY p
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS chunk_idx
       |  FROM f$sfx),
       |ch$sfx AS (
       |  SELECT doc_id, chunk_idx,
       |         CAST(count(*) AS BIGINT) AS n_tokens,
       |         ${oPolyHash("string_agg(tok, ' ' ORDER BY p)")} AS digest
       |  FROM cid$sfx GROUP BY 1, 2)""".stripMargin
}
