package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryKit._

/** Media-decode queries q333–q389: header walks and pixel, sample and
  * frame statistics over payloads constructed from doc_id arithmetic
  * (image, audio, video, tar/gzip/zip/zstd containers), plus the
  * composed media gates.
  */
object MediaQueries {

  lazy val all: Seq[Query] = Seq(
    // Codec-free MEDIA HEADER decode (round-12 brief task 1): real
    // PNG/GIF/JPEG header payloads are CONSTRUCTED per doc from doc_id
    // arithmetic — spec-true magic/IHDR/LSD/SOF0 byte layouts built with
    // hex-string arithmetic (unhex/lpad/hex; LE via explicit byte-pair
    // swap) — then parsed back by the native MediaHeader kernel, which
    // reads the bytes big/little-endian as each spec demands. The two
    // paths share no code (string-hex construction vs byte arithmetic),
    // so an endianness or offset bug in either side breaks the gate;
    // the DuckDB oracle re-derives every output column (sizes included)
    // from the same doc_id arithmetic without touching bytes at all.
    // doc_id%4==3 plants corrupt payloads — a 12-byte truncation and a
    // bad-magic first byte — whose header columns must come back NULL
    // (quarantine, never a wrong dimension). Map-only projection; the
    // payload bytes never shuffle.
    Query("q333_media_headers", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), mediaPayload(col("doc_id")).as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.operators.Multimodal.headerMeta(col("__p")).as("__h"))
        .select(col("doc_id"), col("n_bytes"),
          col("__h.format").as("format"), col("__h.width").as("width"),
          col("__h.height").as("height"),
          col("__h.bit_depth").as("bit_depth"))
        .orderBy("doc_id")
    },
    // Media headers: the oracle never touches a byte — every output
    // column (payload SIZES included) re-derives from the same doc_id
    // arithmetic the engine used to CONSTRUCT the payloads, so a
    // construction bug and a parser bug both break the hash. Corrupt
    // rows (doc_id%4=3) must surface NULL header fields.
    oracle =
      """SELECT doc_id,
        |  CAST(CASE doc_id % 4
        |    WHEN 0 THEN 33 WHEN 1 THEN 41 WHEN 2 THEN 13
        |    ELSE CASE WHEN doc_id % 8 = 3 THEN 12 ELSE 29 END END
        |    AS BIGINT) AS n_bytes,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'gif' END AS format,
        |  CASE WHEN doc_id % 4 < 3
        |    THEN CAST(doc_id % 991 + 1 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 4 < 3
        |    THEN CAST((doc_id * 7) % 737 + 1 AS BIGINT) END AS height,
        |  CASE doc_id % 4
        |    WHEN 0 THEN CAST([1,2,4,8,16][CAST(doc_id % 5 AS INT) + 1]
        |      AS BIGINT)
        |    WHEN 1 THEN CAST(8 AS BIGINT)
        |    WHEN 2 THEN CAST(doc_id % 8 + 1 AS BIGINT) END AS bit_depth
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BYTE-LEVEL BPE lifecycle (round-12 brief task 3 — the GPT-2
    // ByteLevel step q329's char-level merges do not cover): regex
    // pretokenization (leading space attaches to the word — the " low"
    // vs "low" distinction every shipped GPT-style vocab carries),
    // the 256-entry byte→unicode table, then the SAME frozen-merge
    // min-rank kernel over byte symbols. Train on the doc_id%3=0
    // slice, freeze, apply to every pretoken of the full corpus; the
    // gated output is the byte-level SEGMENTATION STRING itself. The
    // oracle replays the pretokenizer regex (RE2-safe form by
    // construction), re-derives byte symbols via hex-pair arithmetic
    // through the same table literal, and unrolls the 8 merge ranks
    // with the q329 list_reduce stages.
    Query("q334_bytelevel_bpe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMergesByteLevel(
        docs.filter(col("doc_id") % 3 === 0), "text", numMerges = 8)
      graft.operators.Bpe.bpeRankSegmentByteLevel(
        docs, "text", merges, "step", "lhs", "rhs")
        .orderBy("w")
    },
    oracle = oByteBpeEncodeSql(8)),

    // ExactSubstr VARIABLE-LENGTH repeated-run dedup (Lee et al. 2022
    // — round-12 brief task 5): a 200-token block is PLANTED into
    // every doc_id%10=0 document (both engines construct it from the
    // same literal), and duplicatedRuns must read it back as one
    // ~200-token run per planted doc — the length ≫ minLen signal
    // fixed-k span coverage (q65) saturates on — plus whatever natural
    // repeats the corpus carries (occurrence-count semantics: within-
    // doc repeats count, as a corpus suffix array would see them).
    // Exact integers; the oracle replays gram counting + the
    // gaps-and-islands interval merge with window functions.
    Query("q335_exact_substr_runs", (s, dir) => {
      val planted = plantedRepeatDocs(s, dir)
      graft.operators.Spans.duplicatedRuns(planted, "doc_id", "text",
        minLen = 10)
        .orderBy("doc_id")
    },
    // ExactSubstr runs: same planted block, literal-gram occurrence
    // counts, lag-based gaps-and-islands merge of [pos, pos+10) spans.
    oracle =
      s"""WITH $oRepeatedGramCtes,
         |isl AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos <= coalesce(lag(pos) OVER (
         |        PARTITION BY doc_id ORDER BY pos), -999999) + 10
         |      THEN 0 ELSE 1 END AS brk
         |  FROM ds),
         |grp AS (
         |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
         |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND
         |    CURRENT ROW) AS gid
         |  FROM isl),
         |runs AS (
         |  SELECT doc_id, gid,
         |    CAST(max(pos) + 10 - min(pos) AS BIGINT) AS rl
         |  FROM grp GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
         |    CAST(sum(rl) AS BIGINT) AS n_dup,
         |    CAST(max(rl) AS BIGINT) AS max_run
         |  FROM runs GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  coalesce(p.n_dup, CAST(0 AS BIGINT)) AS n_dup_tokens,
         |  coalesce(p.n_runs, CAST(0 AS BIGINT)) AS n_runs,
         |  coalesce(p.max_run, CAST(0 AS BIGINT)) AS max_run,
         |  CASE WHEN len(t.tk) > 0 THEN
         |    CAST((coalesce(p.n_dup, 0) * 1048576) // len(t.tk) AS BIGINT)
         |  END AS dup_frac_q20
         |FROM tk t LEFT JOIN per p USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // The multimodal RESOLUTION/FORMAT GATE composed over the header
    // kernel (q333's payloads) — the filter a pipeline actually ships:
    // keep = parseable ∧ format ∈ {png, jpeg} ∧ both dims ≥ 64 ∧
    // aspect within 4:1 (integer cross-multiplications, no division).
    // Scorecard per format (unparseable bucketed under its own key):
    // independent reason counts so the monitoring read shows WHY mass
    // drops, not just that it did. Oracle: pure doc_id arithmetic —
    // the kernel's parsed dimensions must drive the same verdicts the
    // construction arithmetic predicts.
    Query("q336_media_gate", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hdr = docs.select(col("doc_id"),
          graft.operators.Multimodal.headerMeta(
            mediaPayload(col("doc_id"))).as("__h"))
        .select(col("doc_id"), col("__h.format").as("__f"),
          col("__h.width").as("__w"), col("__h.height").as("__hh"))
      // gate columns SHARED with the streaming twin
      // (CorpusStreams.windowedMediaGate) — batch and stream can never
      // gate differently
      val cs = graft.operators.Multimodal.gateCounts(
        col("__f"), col("__w"), col("__hh"))
      hdr.groupBy(coalesce(col("__f"), lit("unparseable")).as("format"))
        .agg(cs.head, cs.tail: _*)
        .orderBy("format")
    },
    // Media gate: the q333 arithmetic extended with the gate CASEs —
    // the oracle predicts every verdict without touching bytes.
    oracle =
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      WHEN 2 THEN 'gif' END AS f,
        |    CAST(doc_id % 991 + 1 AS BIGINT) AS w,
        |    CAST((doc_id * 7) % 737 + 1 AS BIGINT) AS hh
        |  FROM documents),
        |v AS (
        |  SELECT coalesce(f, 'unparseable') AS format,
        |    f IS NOT NULL AS parseable,
        |    f IN ('png', 'jpeg') AS allowed,
        |    (w >= 64 AND hh >= 64) AS big,
        |    (w <= hh * 4 AND hh <= w * 4) AS aspect_ok
        |  FROM h)
        |SELECT format, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN parseable AND allowed AND big
        |    AND aspect_ok THEN 1 END) AS BIGINT) AS n_keep,
        |  CAST(count(CASE WHEN parseable AND NOT allowed THEN 1 END)
        |    AS BIGINT) AS n_not_allowed,
        |  CAST(count(CASE WHEN parseable AND NOT big THEN 1 END)
        |    AS BIGINT) AS n_too_small,
        |  CAST(count(CASE WHEN parseable AND NOT aspect_ok THEN 1 END)
        |    AS BIGINT) AS n_bad_aspect
        |FROM v GROUP BY 1 ORDER BY format""".stripMargin),

    // WebP + BMP header decode (round 13, the q333 discipline over the
    // #2 web image format): all three WebP chunk kinds — VP8L lossless
    // (the LE uint32 bitfield: width−1 in bits 0..13, height−1 in
    // 14..27), VP8 lossy (start code 9D 01 2A, low-14-bit LE dims),
    // VP8X extended (LE uint24 canvas−1 fields) — plus BMP
    // BITMAPINFOHEADER (signed LE int32 dims). Payloads constructed
    // from doc_id arithmetic by hex-string byte-swaps; the kernel
    // re-reads them with byte arithmetic; the oracle predicts every
    // column (sizes included) without touching bytes.
    Query("q337_webp_bmp_headers", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          webpBmpPayload(col("doc_id")).as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.operators.Multimodal.headerMeta(col("__p")).as("__h"))
        .select(col("doc_id"), col("n_bytes"),
          col("__h.format").as("format"), col("__h.width").as("width"),
          col("__h.height").as("height"),
          col("__h.bit_depth").as("bit_depth"))
        .orderBy("doc_id")
    },
    // WebP/BMP headers: pure doc_id arithmetic, no bytes.
    oracle =
      """SELECT doc_id,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 25 WHEN 1 THEN 30
        |    WHEN 2 THEN 30 ELSE 54 END AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 4 = 3 THEN 'bmp' ELSE 'webp' END AS format,
        |  CAST(doc_id % 991 + 1 AS BIGINT) AS width,
        |  CAST((doc_id * 7) % 737 + 1 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 3
        |    THEN [1,4,8,16,24,32][CAST(doc_id % 6 AS INT) + 1]
        |    ELSE 8 END AS BIGINT) AS bit_depth
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Per-document BYTE-LEVEL token budget under the frozen merges —
    // the q94/q329-count analogue for the GPT-2 lifecycle: the number
    // context-window packing actually pays when the tokenizer is
    // byte-level (space-prefixed pretokens and multibyte expansion
    // included). Same train slice as q334; the oracle reuses its
    // unrolled chain and joins each doc's pretokens to the applied
    // segmentation's symbol counts.
    Query("q338_bytelevel_budget", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.Bpe.trainMergesByteLevel(
        docs.filter(col("doc_id") % 3 === 0), "text", numMerges = 8)
      graft.operators.Bpe.bpeRankTokenCountByteLevel(
        docs, "doc_id", "text", merges, "step", "lhs", "rhs")
        .orderBy("doc_id")
    },
    // Byte-level budget: the q334 chain + the q94-style per-doc join.
    oracle = (oByteBpeCtes(8) +
      s""",
         |wl AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM a8),
         |dw AS (
         |  SELECT doc_id, unnest(regexp_extract_all(coalesce(text, ''),
         |    $oByteReLit)) AS w
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
         |         CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN wl USING (w) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(st.n_pretokens, CAST(0 AS BIGINT)) AS n_pretokens,
         |  coalesce(st.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens
         |FROM documents d LEFT JOIN st USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)),

    // ExactSubstr EXCISION (the q335 detection set cut out of the
    // text — Lee et al. 2022's actual cleanup): same planted corpus,
    // cleaned text rebuilt from the kept tokens, n_removed == q335's
    // n_dup_tokens by shared construction. The oracle re-derives the
    // covered-position set and replays the filter-by-index rebuild.
    Query("q339_exact_substr_excise", (s, dir) => {
      val planted = plantedRepeatDocs(s, dir)
      graft.operators.Spans.removeDuplicatedRuns(planted, "doc_id",
        "text", minLen = 10)
        .orderBy("doc_id")
    },
    // Excision: q335's gram/ds CTEs, covered positions expanded and
    // deduped, kept tokens rebuilt by a filtered index walk.
    oracle =
      s"""WITH $oRepeatedGramCtes,
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(range(pos, pos + 10)) AS cp
         |  FROM ds),
         |cl AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(len(c.cps), 0) AS BIGINT) AS n_removed,
         |  coalesce(array_to_string(list_transform(
         |    list_filter(range(1, len(t.tk) + 1),
         |      i -> c.cps IS NULL OR NOT list_contains(c.cps, i)),
         |    i -> t.tk[i]), ' '), '') AS cleaned
         |FROM tk t LEFT JOIN cl c USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // The multimodal ingest pipeline COMPOSED as one plan (the
    // q84/q330 composed-gate discipline): header parse → resolution/
    // format gate → exact payload dedup by content digest → one
    // verdict row. Payloads are built from doc_id % 200, so exact
    // duplicates EXIST (every 200 ids share bytes) and the digest
    // dedup branch carries real mass; the oracle counts distinct
    // payload IDENTITIES arithmetically (pid → payload is injective)
    // where the engine dedups by md5 of the actual bytes.
    Query("q340_media_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hdr = docs.select(col("doc_id"),
          mediaPayload(col("doc_id") % 200).as("__p"))
        .select(col("doc_id"), col("__p"),
          graft.operators.Multimodal.headerMeta(col("__p")).as("__h"))
        .select(col("doc_id"), col("__p"),
          col("__h.format").as("__f"), col("__h.width").as("__w"),
          col("__h.height").as("__hh"))
      val keepCond = col("__f").isNotNull &&
        col("__f").isin("png", "jpeg") &&
        col("__w") >= 64L && col("__hh") >= 64L &&
        col("__w") <= col("__hh") * 4L && col("__hh") <= col("__w") * 4L
      val kept = graft.operators.CacheScope.track(hdr.filter(keepCond))
      val gateAgg = hdr.agg(count(lit(1)).as("n_docs"),
        count(col("__f")).as("n_parseable"))
        .crossJoin(kept.agg(count(lit(1)).as("n_keep")))
      val dedupAgg = kept.select(md5(col("__p")).as("__d")).distinct()
        .agg(count(lit(1)).as("n_unique_payloads"))
      gateAgg.crossJoin(dedupAgg)
        .withColumn("dup_mass", col("n_keep") - col("n_unique_payloads"))
        .withColumn("ship",
          col("n_keep") > 0L && col("n_unique_payloads") > 0L)
        .orderBy("n_docs")
    },
    // Media pipeline verdict: gate predicates from pid = doc_id % 200
    // arithmetic; distinct payloads = distinct kept pids (injective).
    oracle =
      """WITH h AS (
        |  SELECT doc_id, doc_id % 200 AS pid,
        |    CASE (doc_id % 200) % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      WHEN 2 THEN 'gif' END AS f,
        |    CAST((doc_id % 200) % 991 + 1 AS BIGINT) AS w,
        |    CAST(((doc_id % 200) * 7) % 737 + 1 AS BIGINT) AS hh
        |  FROM documents),
        |k AS (
        |  SELECT * FROM h
        |  WHERE f IN ('png', 'jpeg') AND w >= 64 AND hh >= 64
        |    AND w <= hh * 4 AND hh <= w * 4)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_docs,
        |  (SELECT CAST(count(f) AS BIGINT) FROM h) AS n_parseable,
        |  (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_keep,
        |  (SELECT CAST(count(DISTINCT pid) AS BIGINT) FROM k)
        |    AS n_unique_payloads,
        |  (SELECT CAST(count(*) AS BIGINT) FROM k)
        |    - (SELECT CAST(count(DISTINCT pid) AS BIGINT) FROM k)
        |    AS dup_mass,
        |  (SELECT count(*) FROM k) > 0
        |    AND (SELECT count(DISTINCT pid) FROM k) > 0 AS ship
        |ORDER BY n_docs""".stripMargin),

    // AUDIO header decode (the q333 discipline for the audio half of a
    // multimodal corpus): spec-true WAV (RIFF→fmt chunk LE fields) and
    // FLAC (STREAMINFO 20/3/5-bit big-endian packing — the bit
    // construction here and the kernel's bit UNpacking share no code)
    // built from doc_id arithmetic; doc_id%10==9 plants truncation.
    // Oracle: arithmetic only.
    Query("q341_audio_headers", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rate = (col("doc_id") % 50) * 1000L + 8000L
      val ch = col("doc_id") % 8 + 1L
      val bits = element_at(typedlit(Seq(8L, 16L, 24L, 32L)),
        (col("doc_id") % 4).cast("int") + 1)
      def hxp(c: Column, digits: Int) = lpad(hex(c), digits, "0")
      def le16(c: Column) = {
        val x = hxp(c, 4)
        unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
      }
      def le32(c: Column) = {
        val x = hxp(c, 8)
        unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2)))
      }
      // RIFF WAVE fmt(16): PCM, ch, rate, byterate, align, bits = 36 B
      val wav = concat(unhex(lit("52494646")), le32(lit(28L)),
        unhex(lit("57415645" + "666D7420" + "10000000" + "0100")),
        le16(ch), le32(rate), le32(rate * ch * 2L), le16(ch * 2L),
        le16(bits))
      // fLaC + STREAMINFO(34): block sizes/frames zeroed, then the
      // packed bytes — b10 = rate>>12, b11 = (rate>>4)&FF,
      // b12 = (rate&F)<<4 | (ch-1)<<1 | (bits-1)>>4,
      // b13 = ((bits-1)&F)<<4 — then 20 zero bytes = 42 B total
      val flac = concat(
        unhex(lit("664C6143" + "00" + "000022" +
          "1000" + "1000" + "000000" + "000000")),
        unhex(hxp(shiftright(rate, 12), 2)),
        unhex(hxp(shiftright(rate, 4) % 256L, 2)),
        unhex(hxp((rate % 16L) * 16L + (ch - 1L) * 2L +
          shiftright(bits - 1L, 4), 2)),
        unhex(hxp(((bits - 1L) % 16L) * 16L, 2)),
        unhex(lit("00" * 20)))
      val payload = when(col("doc_id") % 10 === 9, substring(wav, 1, 10))
        .when(col("doc_id") % 2 === 0, wav).otherwise(flac)
      docs.select(col("doc_id"), payload.as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.operators.Multimodal.audioMeta(col("__p")).as("__h"))
        .select(col("doc_id"), col("n_bytes"),
          col("__h.format").as("format"),
          col("__h.sample_rate").as("sample_rate"),
          col("__h.channels").as("channels"),
          col("__h.bits").as("bits"))
        .orderBy("doc_id")
    },
    // Audio headers: pure doc_id arithmetic, no bytes.
    oracle =
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 10 = 9 THEN 10
        |    WHEN doc_id % 2 = 0 THEN 36 ELSE 42 END AS BIGINT)
        |    AS n_bytes,
        |  CASE WHEN doc_id % 10 = 9 THEN NULL
        |    WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
        |  CASE WHEN doc_id % 10 <> 9
        |    THEN CAST((doc_id % 50) * 1000 + 8000 AS BIGINT)
        |  END AS sample_rate,
        |  CASE WHEN doc_id % 10 <> 9
        |    THEN CAST(doc_id % 8 + 1 AS BIGINT) END AS channels,
        |  CASE WHEN doc_id % 10 <> 9
        |    THEN CAST([8,16,24,32][CAST(doc_id % 4 AS INT) + 1]
        |      AS BIGINT) END AS bits
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Codec-free PIXEL decode (round-14 brief task 1 — kills the image
    // half of the last stub): WHOLE PNG files (stored-mode zlib IDAT,
    // scanlines forward-filtered with all five spec filter types
    // y % 5) and 24bpp bottom-up BMPs are constructed from doc_id
    // arithmetic (PixelFixtures — forward filters + a hand-rolled
    // Adler-32), then decoded back by the native PixelStats kernel
    // (JDK Inflater + filter RECONSTRUCTION — inverse direction, no
    // shared code). The oracle re-derives every output column —
    // payload sizes, integer luminance sums, the 9×8-grid dHash — from
    // pixel ARITHMETIC alone, never touching a byte. doc_id%10==7
    // plants a 40-byte truncation → NULL stats (quarantine). Map-only
    // plan; payload bytes never shuffle.
    Query("q342_pixel_stats", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        PixelFixtures.payload)
      media.select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("n_bytes")) ++
          pixelCols(dhash = true): _*)
        .orderBy("doc_id")
    },
    // Pixel stats: the oracle never touches a byte — luminance sums,
    // histogram-free integer stats, and the 9×8-grid dHash re-derive
    // from the SAME pixel arithmetic the fixtures rendered (pix =
    // (7x+13y+s)%256; RGB channels (p, 3p%256, 5p%256); lum = BT.601
    // milli-weights). The signed 64-bit dHash is assembled in HUGEINT
    // then wrapped to BIGINT two's-complement.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 3 AS m, doc_id % 24 + 9 AS w,
         |    (doc_id * 5) % 24 + 8 AS h, doc_id % 10 = 7 AS corrupt
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
         |    FROM d WHERE NOT corrupt)),
         |st AS (
         |  SELECT doc_id, CAST(sum(lum) AS BIGINT) AS lum_sum,
         |    CAST(sum(lum * lum) AS BIGINT) AS lum_sq_sum
         |  FROM lum GROUP BY 1),
         |${oDhashCtes(Seq("doc_id"), "k")},
         |dh AS (
         |  SELECT doc_id, sum(CAST(1 AS HUGEINT) << CAST(k AS INT)) AS hraw
         |  FROM bits GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN d.corrupt THEN 40
         |    WHEN d.m = 0 THEN 68 + d.h * (1 + d.w)
         |    WHEN d.m = 1 THEN 68 + d.h * (1 + 3 * d.w)
         |    ELSE 54 + d.h * (((3 * d.w + 3) // 4) * 4) END AS BIGINT)
         |    AS n_bytes,
         |  CASE WHEN d.corrupt THEN NULL WHEN d.m = 2 THEN 'bmp'
         |    ELSE 'png' END AS format,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.w AS BIGINT) END AS width,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.h AS BIGINT) END AS height,
         |  CASE WHEN NOT d.corrupt THEN CAST(CASE WHEN d.m = 0 THEN 1
         |    ELSE 3 END AS BIGINT) END AS channels,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.w * d.h AS BIGINT) END
         |    AS n_pixels,
         |  st.lum_sum, st.lum_sq_sum,
         |  CASE WHEN NOT d.corrupt THEN CAST(coalesce(dh.hraw, 0)
         |    - CASE WHEN coalesce(dh.hraw, 0) >= 9223372036854775808
         |        THEN 18446744073709551616 ELSE 0 END AS BIGINT) END
         |    AS dhash
         |FROM d LEFT JOIN st USING (doc_id) LEFT JOIN dh USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // PERCEPTUAL-HASH image near-dup (round-14 brief task 2): byte-
    // unequal re-encodes of the same picture cluster by dHash Hamming
    // distance. Every odd doc re-renders its even predecessor's image
    // with ONE pixel edited (+128 mod 256 at the origin) — different
    // bytes, dHash within 1 bit — and the banded 4×16-bit machinery
    // (Dedup.signaturePairs64, the SimHash-tier discipline: never
    // all-pairs, Hamming-verified before anything else shuffles) must
    // find exactly the pairs within Hamming ≤ 2. Pigeonhole makes the
    // band recall EXACT at this radius, so the oracle is the full
    // all-pairs Hamming answer over arithmetically re-derived dHashes.
    Query("q343_dhash_neardup", (s, dir) => {
      val sigs = payloads(docIds(s, dir), PixelFixtures.nearDupPayload)
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p"))
            .getField("dhash").as("dhash"))
      graft.operators.Dedup.signaturePairs64(sigs, "doc_id", "dhash",
        maxHamming = 2)
        .orderBy("i", "j")
    },
    // dHash near-dup: banding with 4 bands is EXACT for Hamming <= 3
    // (pigeonhole), so the engine's banded answer equals the all-pairs
    // Hamming answer — which the oracle computes directly over
    // arithmetically re-derived dHashes (odd docs replay the one-pixel
    // origin edit of their even predecessor's grayscale PNG).
    oracle =
      s"""WITH $oNearDupSigCtes
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
         |ORDER BY i, j""".stripMargin),

    // TIFF + EXIF header decode (round-14 brief task 3 — the #3
    // camera container and the ROTATION gate): spec-true TIFF IFD0
    // walks in BOTH endiannesses — II with inline LONG/SHORT values,
    // MM with BitsPerSample count=3 read through the VALUE-OFFSET path
    // — plus a JPEG whose orientation rides in an embedded APP1 Exif
    // TIFF block (the walk must skip into it and back out to SOF0).
    // The gate applies the EXIF rotation BEFORE the aspect check
    // (orientation ≥ 5 = 90°-family → display dims swap). Corruption
    // slice %4==3: a mid-IFD truncation (%8==3) and an out-of-domain
    // orientation 9 on a standalone TIFF (%8==7) — both NULL.
    Query("q344_tiff_exif", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hdr = docs.select(col("doc_id"),
          tiffExifPayload(col("doc_id")).as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.operators.Multimodal.headerMeta(col("__p")).as("__h"))
      val o = col("__h.orientation")
      val dispW = when(o >= 5L, col("__h.height"))
        .otherwise(col("__h.width"))
      val dispH = when(o >= 5L, col("__h.width"))
        .otherwise(col("__h.height"))
      hdr.select(col("doc_id"), col("n_bytes"),
          col("__h.format").as("format"), col("__h.width").as("width"),
          col("__h.height").as("height"),
          col("__h.bit_depth").as("bit_depth"), o.as("orientation"),
          dispW.as("disp_width"), dispH.as("disp_height"),
          (dispW <= dispH * 4L && dispH <= dispW * 4L).as("aspect_ok"))
        .orderBy("doc_id")
    },
    // TIFF/EXIF headers: pure doc_id arithmetic — sizes from the fixed
    // container layouts, the rotation gate's display dims swapped when
    // orientation is in the 90°-family (5..8).
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS m,
        |    CAST(doc_id % 991 + 1 AS BIGINT) AS w,
        |    CAST((doc_id * 7) % 737 + 1 AS BIGINT) AS h,
        |    CAST((doc_id // 4) % 8 + 1 AS BIGINT) AS o
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, m, w, h, o,
        |    CASE WHEN o >= 5 THEN h ELSE w END AS dw,
        |    CASE WHEN o >= 5 THEN w ELSE h END AS dh
        |  FROM d)
        |SELECT doc_id,
        |  CAST(CASE m WHEN 0 THEN 62 WHEN 1 THEN 68 WHEN 2 THEN 59
        |    ELSE CASE WHEN doc_id % 8 = 3 THEN 12 ELSE 62 END END
        |    AS BIGINT) AS n_bytes,
        |  CASE WHEN m = 2 THEN 'jpeg' WHEN m < 2 THEN 'tiff' END
        |    AS format,
        |  CASE WHEN m < 3 THEN w END AS width,
        |  CASE WHEN m < 3 THEN h END AS height,
        |  CASE WHEN m < 3 THEN CASE WHEN m = 2 THEN CAST(8 AS BIGINT)
        |    ELSE CAST([1,2,4,8,16][CAST(doc_id % 5 AS INT) + 1]
        |      AS BIGINT) END END AS bit_depth,
        |  CASE WHEN m < 3 THEN o END AS orientation,
        |  CASE WHEN m < 3 THEN dw END AS disp_width,
        |  CASE WHEN m < 3 THEN dh END AS disp_height,
        |  CASE WHEN m < 3 THEN dw <= dh * 4 AND dh <= dw * 4 END
        |    AS aspect_ok
        |FROM v ORDER BY doc_id""".stripMargin),

    // WAV PCM SAMPLE statistics (round-14 brief task 4 — the audio
    // twin of q342): whole PCM WAV files are constructed from doc_id
    // arithmetic — ramps (wrap-around sawtooth), square waves (with
    // PLANTED full-scale clipping on the %5==0 slice), and
    // silence-padded tones — rendered to 16-bit two's-complement LE
    // bytes by hex Column arithmetic, then decoded back by the native
    // PcmStats kernel. The oracle re-derives energy, clipping counts,
    // and the leading/trailing silence runs from the sample formulas
    // alone. %10==9 plants a mid-data truncation (declared data size
    // not fully present) → NULL.
    Query("q345_pcm_stats", (s, dir) => {
      val docs = spreadIds(t(s, dir, "documents"))
      docs.select(col("doc_id"), pcmPayload(col("doc_id")).as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.functions.pcmStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("n_bytes")) ++
          pcmCols("codec", "sample_rate", "channels", "bits"): _*)
        .orderBy("doc_id")
    },
    // PCM stats: the oracle replays the sample formulas over range(n)
    // — energy sums, full-scale-rail clip counts, and the edge-silence
    // runs as min/max over non-silent indices. Never touches a byte.
    oracle =
      s"""$oPcmCtes
         |SELECT d.doc_id,
         |  CAST(CASE WHEN d.corrupt THEN 44 + d.n
         |    ELSE 44 + 2 * d.n END AS BIGINT) AS n_bytes,
         |  CASE WHEN NOT d.corrupt THEN 'pcm16' END AS codec,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.rate AS BIGINT) END
         |    AS sample_rate,
         |  CASE WHEN NOT d.corrupt THEN CAST(1 AS BIGINT) END AS channels,
         |  CASE WHEN NOT d.corrupt THEN CAST(16 AS BIGINT) END AS bits,
         |  st.n_samples,
         |  CASE WHEN NOT d.corrupt
         |    THEN CAST(d.n * 1000 // d.rate AS BIGINT) END AS duration_ms,
         |  st.sum_q, st.sq_sum, st.n_clipped,
         |  st.lead_silence, st.trail_silence
         |FROM d LEFT JOIN st USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // The audio ingest pipeline COMPOSED as one plan (the q340/q336
    // discipline, and the q336-beside-it audio gate the round-13
    // verdict called for): PCM decode → sample-rate gate → quality
    // gates (clipping ≤ 1%, edge silence ≤ 20%) → ONE aggregate
    // verdict row with independent reason counts (single groupBy —
    // no crossJoin chain; the q340 scorecard's one cosmetic blemish,
    // not repeated). Oracle: pure sample arithmetic.
    Query("q346_audio_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      val st = docs.select(col("doc_id"),
        graft.functions.pcmStats(pcmPayload(col("doc_id"))).as("__s"))
      // gate columns SHARED with the streaming twin
      // (CorpusStreams.windowedAudioGate) — batch and stream can never
      // gate differently
      val cs = graft.operators.Multimodal.audioGateCounts(col("__s"))
      st.agg(cs.head, cs.tail: _*)
        .withColumn("ship", col("n_keep") > 0L)
        .orderBy("n_docs")
    },
    // Audio pipeline verdict: the q345 CTEs closed to one aggregate —
    // rate window, clip ratio <= 1%, edge silence <= 20%.
    oracle =
      s"""$oPcmCtes,
         |v AS (
         |  SELECT d.doc_id, NOT d.corrupt AS parseable,
         |    d.rate BETWEEN 16000 AND 48000 AS rate_ok,
         |    st.n_clipped * 100 <= st.n_samples AS clip_ok,
         |    (st.lead_silence + st.trail_silence) * 5 <= st.n_samples
         |      AS sil_ok,
         |    d.n * 1000 // d.rate AS dur
         |  FROM d LEFT JOIN st USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN parseable THEN 1 END) AS BIGINT)
         |    AS n_parseable,
         |  CAST(count(CASE WHEN parseable AND NOT rate_ok THEN 1 END)
         |    AS BIGINT) AS n_bad_rate,
         |  CAST(count(CASE WHEN parseable AND NOT clip_ok THEN 1 END)
         |    AS BIGINT) AS n_clipping,
         |  CAST(count(CASE WHEN parseable AND NOT sil_ok THEN 1 END)
         |    AS BIGINT) AS n_too_silent,
         |  CAST(count(CASE WHEN parseable AND rate_ok AND clip_ok
         |    AND sil_ok THEN 1 END) AS BIGINT) AS n_keep,
         |  CAST(coalesce(sum(CASE WHEN parseable AND rate_ok AND clip_ok
         |    AND sil_ok THEN dur END), 0) AS BIGINT) AS keep_duration_ms,
         |  count(CASE WHEN parseable AND rate_ok AND clip_ok AND sil_ok
         |    THEN 1 END) > 0 AS ship
         |FROM v ORDER BY n_docs""".stripMargin),

    // SentencePiece BYTE FALLBACK for the unigram Viterbi tokenizer
    // (round-14 brief task 8 — the `byte_fallback` flag production
    // unigram models ship with): where q307's DP emits UNK, this DP
    // emits the character's UTF-8 BYTE pieces (nb tokens at
    // byteScoreQ each) — the vocabulary is CLOSED, nothing is ever
    // UNK. A multibyte OOV word is PLANTED on the %7==0 slice (ü/ç/ß
    // have no vocab unit, so they MUST segment to byte pieces and
    // n_byte_tokens > 0 there). The oracle replays the same DP with
    // the fallback transition costed by strlen of the code point.
    Query("q347_viterbi_bytefallback", (s, dir) => {
      import s.implicits._
      val vdf = viterbiScoredVocab.toDF("unit", "score_q")
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(coalesce(col("text"), lit("")),
            lit(" " + byteFallbackWord)))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      graft.operators.Bpe.viterbiTokenCountByteFallback(
        planted, "doc_id", "text", vdf, "unit", "score_q",
        viterbiByteScoreQ)
        .orderBy("doc_id")
    },
    oracle =
      oViterbiByteFallbackSql(viterbiScoredVocab, viterbiByteScoreQ,
        7L, byteFallbackWord)),

    // The graph HEALTH-CHECK composed as ONE plan (round-14 task 6's
    // adoption: the A/B audit — SCALE.md, "graph-tier shared-edge-cache A/B" —
    // measured a 33% tier-wall cut from sharing the derived edge table
    // across the datasheet / hub-removal / BFS reads, hashes green; the
    // per-query gates stay isolated for measurement honesty, and THIS
    // query is the shape a production health-check actually runs): the
    // capped co-engagement edge table is built and cached ONCE
    // (CacheScope.track), then the q281 datasheet stats, the q269
    // hub-removal resilience read, and the q251 4-hop seed reach all
    // consume it — one verdict row.
    Query("q348_graph_pipeline", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = graft.operators.CacheScope.track(
        graft.operators.Cooccur.coEngagementPairs(li,
          "l_orderkey", "l_partkey", maxDegree = 6)
          .select(col("item_a"), col("item_b")))
      graphHealthCheck(li, edges)
    },
    // Composed graph health-check: the q281 + q269 + q251 oracle CTEs
    // over ONE shared sym edge table, closed to a single verdict row.
    oracle = oGraphPipelineSql),

    // q371: the MATERIALIZED bucketed edge table — the 100-TB
    // expression of the q348 shared-edge win (SCALE.md round-13/14
    // adoption notes): a derived co-engagement edge table is a
    // write-once ARTIFACT bucketed by node, not a session cache. The
    // SAME edge build is written via TableIO.writeBucketed (bucketBy
    // item_a — downstream equi-joins/aggs on the node key read
    // co-located buckets with no exchange; SkewBucketSpec proves the
    // plan shape), re-read from the catalog, and run through the SAME
    // composed health-check. The oracle is the same SQL string as
    // q348's, so the driver enforces hash IDENTITY between the cached
    // and bucketed paths.
    Query("q371_bucketed_graph", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val built = graft.operators.Cooccur.coEngagementPairs(li,
        "l_orderkey", "l_partkey", maxDegree = 6)
        .select(col("item_a"), col("item_b"))
      graft.io.TableIO.writeBucketed(built, "graft_edges_by_node",
        Seq("item_a"), numBuckets = 8)
      graphHealthCheck(li, s.table("graft_edges_by_node"))
    },
    // The bucketed-edge-table twin grades against the IDENTICAL SQL:
    // the driver's hash compare IS the cached-vs-materialized identity
    // proof.
    oracle = oGraphPipelineSql),

    // G.711 COMPANDED audio decode (μ-law tag 7 / A-law tag 6 — the
    // telephony-corpus format; expansion is the PUBLIC CCITT/Sun
    // reference arithmetic, no codec): companded code bytes are
    // constructed from doc_id arithmetic (one byte per sample — the
    // code stream cycles all 256 values, so full-scale rails and
    // silent codes both occur), the kernel expands them to linear and
    // reports the same integer statistics as q345; the oracle replays
    // the expansion formulas in SQL CASE arithmetic over range(n).
    Query("q350_g711_stats", (s, dir) => {
      // not spread: 30–120 companded code bytes per doc — construction
      // is lighter than the exchange (measured regression when spread)
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), g711Payload(col("doc_id")).as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.functions.pcmStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("n_bytes")) ++
          pcmCols("codec", "sample_rate"): _*)
        .orderBy("doc_id")
    },
    // G.711 stats: the oracle replays the CCITT expansion formulas —
    // μ-law via the complemented byte's mantissa/exponent fields,
    // A-law via the xor-0x55 segment table — in pure CASE arithmetic
    // over range(n), then the q345 statistic shapes.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 90 + 30 AS n, doc_id % 2 = 0 AS mu
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, mu, i, (i * 37 + doc_id * 11) % 256 AS c
        |  FROM (SELECT doc_id, n, mu, unnest(range(n)) AS i FROM d)),
        |dec AS (
        |  SELECT doc_id, mu, i,
        |    CASE WHEN mu THEN
        |      CASE WHEN 255 - c >= 128
        |        THEN 132 - (((255 - c) % 16) * 8 + 132) *
        |          ([1,2,4,8,16,32,64,128]
        |            [CAST(((255 - c) // 16) % 8 AS INT) + 1])
        |        ELSE (((255 - c) % 16) * 8 + 132) *
        |          ([1,2,4,8,16,32,64,128]
        |            [CAST(((255 - c) // 16) % 8 AS INT) + 1]) - 132
        |      END
        |    ELSE
        |      (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END) *
        |      (CASE WHEN (xor(c, 85) // 16) % 8 = 0
        |         THEN (xor(c, 85) % 16) * 16 + 8
        |       WHEN (xor(c, 85) // 16) % 8 = 1
        |         THEN (xor(c, 85) % 16) * 16 + 264
        |       ELSE ((xor(c, 85) % 16) * 16 + 264) *
        |         ([2,4,8,16,32,64]
        |           [CAST((xor(c, 85) // 16) % 8 AS INT) - 1])
        |       END)
        |    END AS v
        |  FROM sm),
        |st AS (
        |  SELECT doc_id,
        |    CAST(sum(v) AS BIGINT) AS sum_q,
        |    CAST(sum(v * v) AS BIGINT) AS sq_sum,
        |    CAST(count(CASE WHEN (mu AND abs(v) = 32124)
        |      OR (NOT mu AND abs(v) = 32256) THEN 1 END) AS BIGINT)
        |      AS n_clipped,
        |    CAST(coalesce(min(CASE WHEN abs(v) > 256 THEN i END),
        |      max(i) + 1) AS BIGINT) AS lead_silence,
        |    CAST(coalesce(max(i) - max(CASE WHEN abs(v) > 256 THEN i END),
        |      max(i) + 1) AS BIGINT) AS trail_silence
        |  FROM dec GROUP BY 1)
        |SELECT d.doc_id, CAST(44 + d.n AS BIGINT) AS n_bytes,
        |  CASE WHEN d.mu THEN 'ulaw' ELSE 'alaw' END AS codec,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(d.n AS BIGINT) AS n_samples,
        |  CAST(d.n * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  st.sum_q, st.sq_sum, st.n_clipped,
        |  st.lead_silence, st.trail_silence
        |FROM d JOIN st USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // GIF PIXEL decode (round 14 — LZW from the public GIF89a spec
    // appendix, pure table arithmetic, no codec jars: the THIRD
    // codec-free pixel format after PNG/BMP): whole GIF files with a
    // 256-entry palette and LZW-coded index streams are constructed by
    // the fixture ENCODER (literal codes + periodic CLEARs + LSB-first
    // bit packing — no code shared with the kernel's table decode),
    // decoded back by PixelStats, and every statistic re-derived by
    // the oracle from the index arithmetic alone (palette entry i =
    // (i, 3i%256, 5i%256) — the shared RGB-luminance formula).
    // %10==7 truncates inside the color table → NULL.
    Query("q351_gif_pixels", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        PixelFixtures.gifPayload)
      media.select(col("doc_id"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id")) ++
          pixelCols(dhash = true): _*)
        .orderBy("doc_id")
    },
    // GIF pixels: q342's RGB-luminance arithmetic over the palette
    // indices — the oracle never touches a byte of the LZW stream.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h,
         |    doc_id % 10 = 7 AS corrupt
         |  FROM documents),
         |lum AS (
         |  SELECT doc_id, w, h, u.x AS x, u.y AS y,
         |    299 * u.p + 587 * ((u.p * 3) % 256)
         |      + 114 * ((u.p * 5) % 256) AS lum
         |  FROM (
         |    SELECT doc_id, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + doc_id % 31) * (y + doc_id % 37) * 3
         |                 + doc_id) % 256})))) AS u
         |    FROM d WHERE NOT corrupt)),
         |st AS (
         |  SELECT doc_id, CAST(sum(lum) AS BIGINT) AS lum_sum,
         |    CAST(sum(lum * lum) AS BIGINT) AS lum_sq_sum
         |  FROM lum GROUP BY 1),
         |${oDhashCtes(Seq("doc_id"), "k")},
         |dh AS (
         |  SELECT doc_id, sum(CAST(1 AS HUGEINT) << CAST(k AS INT)) AS hraw
         |  FROM bits GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN NOT d.corrupt THEN 'gif' END AS format,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.w AS BIGINT) END AS width,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.h AS BIGINT) END AS height,
         |  CASE WHEN NOT d.corrupt THEN CAST(3 AS BIGINT) END AS channels,
         |  CASE WHEN NOT d.corrupt THEN CAST(d.w * d.h AS BIGINT) END
         |    AS n_pixels,
         |  st.lum_sum, st.lum_sq_sum,
         |  CASE WHEN NOT d.corrupt THEN CAST(coalesce(dh.hraw, 0)
         |    - CASE WHEN coalesce(dh.hraw, 0) >= 9223372036854775808
         |        THEN 18446744073709551616 ELSE 0 END AS BIGINT) END
         |    AS dhash
         |FROM d LEFT JOIN st USING (doc_id) LEFT JOIN dh USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // The IMAGE near-dup pipeline COMPOSED as one plan (the perceptual
    // capstone over q342/q343: what an image-corpus curation job
    // actually ships): decode pixels → dHash → banded Hamming pairs →
    // connected components → one verdict row (images, decoded, pair,
    // cluster, and excess-duplicate counts — n_dup_excess is the mass
    // a canonical-survivor pass would drop). The dHash table is built
    // ONCE (CacheScope via signaturePairs64's banded frame); the
    // oracle re-derives dHashes arithmetically and replays the CC as
    // a recursive min-label flood over the qualifying pairs.
    Query("q349_image_dedup_pipeline", (s, dir) => {
      // not spread: BMP payloads decode in microseconds and the wall is
      // the banding+CC tail — inflating every downstream stage of the
      // 32-partition signature cache measured slower than the serial scan
      val sigs = payloads(docIds(s, dir), PixelFixtures.nearDupPayload)
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p"))
            .getField("dhash").as("dhash"))
        .transform(graft.operators.CacheScope.track)
      val pairs = graft.operators.Dedup.signaturePairs64(sigs, "doc_id",
        "dhash", maxHamming = 2)
        .transform(graft.operators.CacheScope.track)
      val clusters = graft.operators.Components
        .connectedComponents(pairs, "i", "j")
      val cagg = clusters.agg(count(lit(1)).as("n_members"),
        count_distinct(col("component")).as("n_clusters"))
      sigs.agg(count(lit(1)).as("n_images"),
          count(col("dhash")).as("n_decoded"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .crossJoin(cagg)
        .withColumn("n_dup_excess", col("n_members") - col("n_clusters"))
        .withColumn("ship",
          col("n_decoded") > 0L && col("n_dup_excess") >= 0L)
        .orderBy("n_images")
    },
    // Image dedup pipeline: the q343 dHash CTEs + all-pairs Hamming
    // (pigeonhole makes the engine's banding exact at this radius) +
    // recursive min-label CC flood, closed to one verdict row.
    oracle =
      s"""WITH RECURSIVE $oNearDupSigCtes,
         |p AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2),
         |${oPairFloodCtes("UNION ALL")},
         |ca AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(count(DISTINCT component) AS BIGINT) AS n_clusters
         |  FROM l)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_images,
         |  (SELECT CAST(count(dhash) AS BIGINT) FROM sig) AS n_decoded,
         |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_pairs,
         |  ca.n_members, ca.n_clusters,
         |  ca.n_members - ca.n_clusters AS n_dup_excess,
         |  (SELECT count(dhash) FROM sig) > 0
         |    AND ca.n_members - ca.n_clusters >= 0 AS ship
         |FROM ca ORDER BY n_images""".stripMargin),

    // VIDEO container header decode (late round 14 — the third
    // modality's q333/q341 twin): MP4/ISO-BMFF box walks (mvhd v0 AND
    // v1 time widths, 16.16 fixed-point tkhd dims, the stsd codec
    // fourcc, the stsz frame count, and a 0×0 audio trak the walk must
    // skip past) plus the AVI RIFF layout (avih dims/frame-timing,
    // the vids strh handler). Corruption slice %5==4: a 30-byte AVI
    // truncation (odd) and an MP4 declaring timescale 0 (even) — both
    // NULL, never a wrong dimension or a division by zero. One
    // map-only projection; payload bytes never shuffle.
    Query("q352_video_headers", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        VideoFixtures.headerPayload)
      media.select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.functions.videoHeader(col("__p")).as("__h"))
        .select(col("doc_id"), col("n_bytes"),
          col("__h.format").as("format"), col("__h.width").as("width"),
          col("__h.height").as("height"),
          col("__h.duration_ms").as("duration_ms"),
          col("__h.n_frames").as("n_frames"),
          col("__h.codec").as("codec"))
        .orderBy("doc_id")
    },
    // Video headers: pure doc_id arithmetic — container sizes from the
    // fixed box/chunk layouts, duration_ms by integer division exactly
    // as the kernels compute it.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 5 AS m,
        |    doc_id % 16 + 12 AS aw, (doc_id * 3) % 12 + 8 AS ah,
        |    doc_id % 6 + 4 AS af, doc_id % 30 + 10 AS ams,
        |    doc_id % 1800 + 2 AS mw, (doc_id * 7) % 1000 + 2 AS mh,
        |    (doc_id % 29 + 1) * 1000 AS ts, doc_id % 9000 + 1000 AS dur,
        |    doc_id % 200 + 10 AS mf,
        |    ['avc1','hev1','mp4v'][CAST(doc_id % 3 AS INT) + 1] AS mc
        |  FROM documents),
        |v AS (SELECT *, ((3 * aw + 3) // 4) * 4 * ah AS fb FROM d)
        |SELECT doc_id,
        |  CAST(CASE WHEN m = 0 THEN 224 + af * (8 + fb)
        |    WHEN m = 1 THEN 308 WHEN m = 2 THEN 332 WHEN m = 3 THEN 408
        |    ELSE CASE WHEN doc_id % 2 = 1 THEN 30 ELSE 308 END END
        |    AS BIGINT) AS n_bytes,
        |  CASE WHEN m = 0 THEN 'avi' WHEN m < 4 THEN 'mp4' END AS format,
        |  CASE WHEN m = 0 THEN CAST(aw AS BIGINT)
        |    WHEN m < 4 THEN CAST(mw AS BIGINT) END AS width,
        |  CASE WHEN m = 0 THEN CAST(ah AS BIGINT)
        |    WHEN m < 4 THEN CAST(mh AS BIGINT) END AS height,
        |  CASE WHEN m = 0 THEN CAST(af * ams AS BIGINT)
        |    WHEN m < 4 THEN CAST(dur * 1000 // ts AS BIGINT) END
        |    AS duration_ms,
        |  CASE WHEN m = 0 THEN CAST(af AS BIGINT)
        |    WHEN m < 4 THEN CAST(mf AS BIGINT) END AS n_frames,
        |  CASE WHEN m = 0 THEN 'dib' WHEN m < 4 THEN mc END AS codec
        |FROM v ORDER BY doc_id""".stripMargin),

    // VIDEO frame sampling with REAL per-frame pixel statistics (the
    // kernel that killed the frame-sample stub): every SECOND
    // uncompressed-DIB AVI frame decoded to the SAME lum_sum /
    // lum_sq_sum / dHash definitions as still images — the oracle
    // replays every sampled frame's pixels from the fixture formula
    // p(x,y,f,s) and re-derives the dHash cell grid arithmetically.
    // %10==7 plants a mid-frame truncation → NULL array → no rows
    // (loud: the doc vanishes from the frame table, never partial
    // stats). Scale shape: unsampled frames are SKIPPED by chunk size
    // (never decoded); only fixed-width stats rows leave the scan.
    Query("q353_video_frames", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        VideoFixtures.framePayload)
      media.select(col("doc_id"),
          explode(graft.functions.videoFrameStats(col("__p"), 2))
            .as("__f"))
        .select(col("doc_id"), col("__f.frame_idx").as("frame_idx"),
          col("__f.lum_sum").as("lum_sum"),
          col("__f.lum_sq_sum").as("lum_sq_sum"),
          col("__f.dhash").as("dhash"))
        .orderBy("doc_id", "frame_idx")
    },
    // Video frames: the q342 dHash CTE discipline PER SAMPLED FRAME —
    // the oracle replays every second frame's pixels from the fixture
    // formula and re-derives the 9×8-grid dHash; the %10==7 truncated
    // docs yield no frame rows on either side.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 16 + 12 AS w, (doc_id * 3) % 12 + 8 AS h,
         |    doc_id % 6 + 4 AS nf
         |  FROM documents WHERE doc_id % 10 <> 7),
         |fr AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS f FROM d),
         |lum AS (
         |  SELECT doc_id, f, w, h, u.x AS x, u.y AS y,
         |    299 * u.p + 587 * ((u.p * 3) % 256)
         |      + 114 * ((u.p * 5) % 256) AS lum
         |  FROM (
         |    SELECT doc_id, f, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + doc_id % 29) * (y + doc_id % 23)
         |                 + 17 * f + doc_id) % 256})))) AS u
         |    FROM fr)),
         |st AS (
         |  SELECT doc_id, f, CAST(sum(lum) AS BIGINT) AS lum_sum,
         |    CAST(sum(lum * lum) AS BIGINT) AS lum_sq_sum
         |  FROM lum GROUP BY 1, 2),
         |${oDhashCtes(Seq("doc_id", "f"), "k")},
         |dh AS (
         |  SELECT doc_id, f, sum(CAST(1 AS HUGEINT) << CAST(k AS INT))
         |    AS hraw
         |  FROM bits GROUP BY 1, 2)
         |SELECT st.doc_id, CAST(st.f AS BIGINT) AS frame_idx,
         |  st.lum_sum, st.lum_sq_sum,
         |  CAST(coalesce(dh.hraw, 0)
         |    - CASE WHEN coalesce(dh.hraw, 0) >= 9223372036854775808
         |        THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS dhash
         |FROM st LEFT JOIN dh USING (doc_id, f)
         |ORDER BY doc_id, frame_idx""".stripMargin),

    // IMAGE RESIZE as a gated kernel (the operator that killed the
    // resize stub): box-filter downscale of the q342 PNG/BMP corpus to
    // a 4×4 milli-luminance grid — the same integer cell partition as
    // the dHash grid (⌊4x/W⌋, ⌊4y/H⌋, floor-average), so the oracle
    // re-derives every output cell from the pixel formula with plain
    // division. Cells are posexploded to rows (cell = cy·4 + cx);
    // corrupt payloads (%10==7) yield NULL grids → no rows.
    Query("q354_pixel_resize", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        PixelFixtures.payload)
      media.select(col("doc_id"),
          posexplode(graft.functions.pixelResize(col("__p"), 4, 4)))
        .select(col("doc_id"), col("pos").as("cell"),
          col("col").as("cell_lum"))
        .orderBy("doc_id", "cell")
    },
    // Pixel resize: the q342 lum CTE + the 4×4 integer cell partition
    // (⌊4x/W⌋, ⌊4y/H⌋, floor-average) — plain division, never a byte.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 3 AS m, doc_id % 24 + 9 AS w,
        |    (doc_id * 5) % 24 + 8 AS h
        |  FROM documents WHERE doc_id % 10 <> 7),
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
        |    FROM d))
        |SELECT doc_id,
        |  CAST(((4 * y) // h) * 4 + (4 * x) // w AS INT) AS cell,
        |  CAST(sum(lum) // count(*) AS BIGINT) AS cell_lum
        |FROM lum GROUP BY 1, 2 ORDER BY doc_id, cell""".stripMargin),

    // MP3 frame-walk headers (the web-corpus audio container beside
    // q341's WAV/FLAC): CBR MPEG-1 Layer III streams constructed from
    // doc_id arithmetic by hex Column construction (the pcmPayload
    // discipline) — bitrate/sample-rate table indices, a PADDING bit
    // alternating per frame (frame sizes differ by 1 byte), and an
    // ID3v2 preamble with a synchsafe size on the %4==1 slice that the
    // walk must skip. The oracle re-derives frame sizes, total bytes,
    // and duration_ms = ⌊frames·1152·1000 / rate⌋ from the public
    // Layer III tables as SQL literals. %10==6 truncates the last
    // frame → NULL.
    Query("q355_mp3_headers", (s, dir) => {
      val docs = spreadIds(t(s, dir, "documents"))
      docs.select(col("doc_id"), mp3Payload(col("doc_id")).as("__p"))
        .select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.functions.mp3Header(col("__p")).as("__h"))
        .select(col("doc_id"), col("n_bytes"),
          col("__h.sample_rate").as("sample_rate"),
          col("__h.channels").as("channels"),
          col("__h.n_frames").as("n_frames"),
          col("__h.duration_ms").as("duration_ms"),
          col("__h.bitrate_kbps").as("bitrate_kbps"))
        .orderBy("doc_id")
    },
    // MP3 headers: the public Layer III tables as SQL literals; frame
    // sizes, the per-frame padding-bit count, and the ID3v2 preamble
    // length re-derived arithmetically. (The ID3 slice %4==1 is always
    // odd, so its synchsafe size doc_id%50 is never zero.)
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 9 + 3 AS n,
        |    [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |      [CAST(doc_id % 14 AS INT) + 1] AS kbps,
        |    [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS rate,
        |    CASE WHEN doc_id % 4 = 1 THEN 10 + doc_id % 50 ELSE 0 END
        |      AS id3,
        |    doc_id % 10 = 6 AS corrupt
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n, kbps, rate, id3, corrupt,
        |    kbps * 144000 // rate AS fs,
        |    n // 2 + (n % 2) * (doc_id % 2) AS npad
        |  FROM d)
        |SELECT doc_id,
        |  CAST(id3 + n * fs + npad
        |    - CASE WHEN corrupt THEN 3 ELSE 0 END AS BIGINT) AS n_bytes,
        |  CASE WHEN NOT corrupt THEN CAST(rate AS BIGINT) END
        |    AS sample_rate,
        |  CASE WHEN NOT corrupt THEN CAST(CASE WHEN doc_id % 2 = 0
        |    THEN 1 ELSE 2 END AS BIGINT) END AS channels,
        |  CASE WHEN NOT corrupt THEN CAST(n AS BIGINT) END AS n_frames,
        |  CASE WHEN NOT corrupt THEN CAST(n * 1152 * 1000 // rate
        |    AS BIGINT) END AS duration_ms,
        |  CASE WHEN NOT corrupt THEN CAST(kbps AS BIGINT) END
        |    AS bitrate_kbps
        |FROM v ORDER BY doc_id""".stripMargin),

    // The VIDEO ingest pipeline COMPOSED as one plan (the q340/q346
    // discipline for the third modality): container parse → resolution
    // (w ≥ 16, h ≥ 10) + duration (≥ 100 ms) gate → frame-sample the
    // keepers at stride 2 → per-frame dHash → SCENE CHANGES (Hamming
    // between consecutive sampled frames > 16 — the shot-boundary
    // heuristic a video curation pass dedups shots with) → ONE verdict
    // row. Frame stats are projected BEFORE the per-doc window, so
    // payload bytes never shuffle — only fixed-width stats rows cross
    // the doc_id exchange.
    Query("q356_video_pipeline", (s, dir) => {
      val media = payloads(docIds(s, dir), VideoFixtures.framePayload)
      val hdr = media.select(col("doc_id"), col("__p"),
        graft.operators.Multimodal.videoMeta(col("__p")).as("__h"))
      // gate columns + keep predicate SHARED with the streaming twin
      // (CorpusStreams.windowedVideoGate) — batch and stream can never
      // gate differently
      val keepCond = graft.operators.Multimodal.videoKeep(col("__h"))
      val cs = graft.operators.Multimodal.videoGateCounts(col("__h"))
      val gates = hdr.agg(cs.head, cs.tail: _*)
      val frames = hdr.filter(keepCond)
        .select(col("doc_id"),
          explode(graft.functions.videoFrameStats(col("__p"), 2))
            .as("__f"))
        .select(col("doc_id"), col("__f.frame_idx").as("fi"),
          col("__f.dhash").as("dh"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("fi")
      val scenes = frames
        .withColumn("prev", lag(col("dh"), 1).over(w))
        .agg(count(lit(1)).as("n_frames_sampled"),
          count(when(bit_count(col("dh").bitwiseXOR(col("prev"))) > 16, 1))
            .as("n_scene_changes"))
      gates.crossJoin(scenes)
        .withColumn("ship", col("n_keep") > 0L)
        .orderBy("n_docs")
    },
    // Video pipeline: header-gate arithmetic + the q353 per-frame
    // dHash CTEs restricted to keepers + a lag() scene-change count,
    // closed to one verdict row.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 16 + 12 AS w, (doc_id * 3) % 12 + 8 AS h,
         |    doc_id % 6 + 4 AS nf,
         |    (doc_id % 6 + 4) * (doc_id % 30 + 10) AS dur,
         |    doc_id % 10 <> 7 AS ok
         |  FROM documents),
         |g AS (
         |  SELECT *, ok AND w >= 16 AND h >= 10 AND dur >= 100 AS keep
         |  FROM d),
         |gates AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(CASE WHEN ok THEN 1 END) AS BIGINT)
         |      AS n_parseable,
         |    CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_keep,
         |    CAST(coalesce(sum(CASE WHEN keep THEN dur END), 0)
         |      AS BIGINT) AS keep_duration_ms
         |  FROM g),
         |fr AS (
         |  SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS f
         |  FROM g WHERE keep),
         |lum AS (
         |  SELECT doc_id, f, w, h, u.x AS x, u.y AS y,
         |    299 * u.p + 587 * ((u.p * 3) % 256)
         |      + 114 * ((u.p * 5) % 256) AS lum
         |  FROM (
         |    SELECT doc_id, f, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + doc_id % 29) * (y + doc_id % 23)
         |                 + 17 * f + doc_id) % 256})))) AS u
         |    FROM fr)),
         |${oDhashCtes(Seq("doc_id", "f"), "k")},
         |dh AS (
         |  SELECT fr.doc_id, fr.f,
         |    ${oSignedHash("x.hraw", "dhash")}
         |  FROM fr LEFT JOIN (
         |    SELECT doc_id, f, sum(CAST(1 AS HUGEINT) << CAST(k AS INT))
         |      AS hraw
         |    FROM bits GROUP BY 1, 2) x
         |    ON x.doc_id = fr.doc_id AND x.f = fr.f),
         |lagged AS (
         |  SELECT doc_id, dhash,
         |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM dh),
         |scenes AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_frames_sampled,
         |    CAST(count(CASE WHEN bit_count(xor(dhash, prev)) > 16
         |      THEN 1 END) AS BIGINT) AS n_scene_changes
         |  FROM lagged)
         |SELECT gates.n_docs, gates.n_parseable, gates.n_keep,
         |  gates.keep_duration_ms, scenes.n_frames_sampled,
         |  scenes.n_scene_changes, gates.n_keep > 0 AS ship
         |FROM gates, scenes ORDER BY n_docs""".stripMargin),

    // CROSS-MODAL perceptual match — "find these still images inside
    // that video corpus", the capability the shared statsOf definition
    // was built for (an AVI frame and a BMP still of the same pixels
    // hash IDENTICALLY, locked cross-kernel in VideoKernelSpec): odd
    // docs are BMP stills rendering frame f* of their predecessor
    // video; the banded probe-vs-corpus matcher
    // (Dedup.signatureMatches64 — band equi-join, never |P|·|C|,
    // Hamming-verified before anything else moves) must find each
    // still at exactly its (video, frame) with Hamming 0 — except
    // where the video is truncated (%10==4: the still matches nothing
    // planted; its pixels exist, the container doesn't decode).
    // Pigeonhole makes band recall EXACT at radius 1, so the oracle is
    // the full probe×corpus Hamming join over arithmetically
    // re-derived dHashes.
    Query("q357_crossmodal_match", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        VideoFixtures.crossModalPayload)
      val img = media.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("img_doc"),
          graft.functions.pixelStats(col("__p"))
            .getField("dhash").as("dhash"))
      val frm = media.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("vid_doc"),
          explode(graft.functions.videoFrameStats(col("__p"), 1))
            .as("__f"))
        // frame_idx < 16 always (F ≤ 9), so vid·16+f is collision-free
        .select((col("vid_doc") * 16L + col("__f.frame_idx")).as("fid"),
          col("__f.dhash").as("dhash"))
      graft.operators.Dedup.signatureMatches64(img, "img_doc",
          frm, "fid", "dhash", maxHamming = 1)
        .select(col("i").as("img_doc"),
          floor(col("j") / 16L).cast("long").as("vid_doc"),
          pmod(col("j"), lit(16L)).as("frame_idx"), col("hamming"))
        .orderBy("img_doc", "vid_doc", "frame_idx")
    },
    // Cross-modal match: one dHash table over every (video s, frame f)
    // either side needs — all frames of even docs (the corpus) plus
    // frame f* of odd docs' predecessors (the probes; computed even
    // when the predecessor video is truncated, since the STILL's
    // pixels exist regardless) — then the full probe×corpus Hamming
    // join (band recall is pigeonhole-exact at radius 1).
    oracle =
      s"""WITH p2 AS (
         |  SELECT doc_id AS s, unnest(range(doc_id % 6 + 4)) AS f
         |  FROM documents WHERE doc_id % 2 = 0
         |  UNION
         |  SELECT doc_id - 1 AS s,
         |    ((doc_id - 1) // 2) % ((doc_id - 1) % 6 + 4) AS f
         |  FROM documents WHERE doc_id % 2 = 1),
         |pp AS (
         |  SELECT s, f, s % 16 + 12 AS w, (s * 3) % 12 + 8 AS h FROM p2),
         |lum AS (
         |  SELECT s, f, w, h, u.x AS x, u.y AS y,
         |    299 * u.p + 587 * ((u.p * 3) % 256)
         |      + 114 * ((u.p * 5) % 256) AS lum
         |  FROM (
         |    SELECT s, f, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x ->
         |          {'x': x, 'y': y,
         |           'p': ((x + s % 29) * (y + s % 23)
         |                 + 17 * f + s) % 256})))) AS u
         |    FROM pp)),
         |${oDhashCtes(Seq("s", "f"), "k")},
         |dh AS (
         |  SELECT pp.s, pp.f,
         |    ${oSignedHash("x.hraw", "dhash")}
         |  FROM pp LEFT JOIN (
         |    SELECT s, f, sum(CAST(1 AS HUGEINT) << CAST(k AS INT))
         |      AS hraw
         |    FROM bits GROUP BY 1, 2) x ON x.s = pp.s AND x.f = pp.f),
         |imgs AS (
         |  SELECT d.doc_id AS img_doc, dh.dhash
         |  FROM documents d JOIN dh ON dh.s = d.doc_id - 1
         |    AND dh.f = ((d.doc_id - 1) // 2) % ((d.doc_id - 1) % 6 + 4)
         |  WHERE d.doc_id % 2 = 1),
         |frames AS (
         |  SELECT d.doc_id AS vid_doc, dh.f, dh.dhash
         |  FROM documents d JOIN dh ON dh.s = d.doc_id
         |  WHERE d.doc_id % 2 = 0 AND d.doc_id % 10 <> 4)
         |SELECT i.img_doc, fr.vid_doc, CAST(fr.f AS BIGINT) AS frame_idx,
         |  CAST(bit_count(xor(i.dhash, fr.dhash)) AS BIGINT) AS hamming
         |FROM imgs i JOIN frames fr
         |  ON bit_count(xor(i.dhash, fr.dhash)) <= 1
         |ORDER BY img_doc, vid_doc, frame_idx""".stripMargin),

    // Matroska / WebM headers (the q352 walk's third container — EBML,
    // RFC 8794): DocType out of the EBML header (webm vs matroska —
    // BOTH doctypes planted), TimestampScale + an IEEE-FLOAT Duration
    // (32-bit AND 64-bit widths planted; the fixture durations are
    // integers < 2^24, exact in both, so duration_ms = d·(id%4+1) is
    // plain oracle arithmetic), and the first VIDEO TrackEntry's
    // dims + CodecID string — with an A_OPUS audio entry planted FIRST
    // on the %3==0 slice that the walk must skip. Matroska declares no
    // frame count → n_frames 0 (undeclared, documented — never
    // invented). %7==5 truncates mid-Segment-header → NULL.
    Query("q358_mkv_headers", (s, dir) => {
      val media = payloads(docIds(s, dir), VideoFixtures.mkvPayload)
      media.select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          graft.functions.videoHeader(col("__p")).as("__h"))
        .select(col("doc_id"), col("n_bytes"),
          col("__h.format").as("format"), col("__h.width").as("width"),
          col("__h.height").as("height"),
          col("__h.duration_ms").as("duration_ms"),
          col("__h.n_frames").as("n_frames"),
          col("__h.codec").as("codec"))
        .orderBy("doc_id")
    },
    // Matroska headers: pure doc_id arithmetic — element sizes from
    // the fixed EBML layout (1-byte size varints, the Segment's
    // 2-byte), duration_ms = d·(id%4+1) since the planted float
    // durations are exact integers.
    oracle =
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 < 2 THEN 7 ELSE 11 END AS hlen,
        |    CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 8 END AS dlen,
        |    [5, 5, 15][CAST(doc_id % 3 AS INT) + 1] AS clen,
        |    CASE WHEN doc_id % 3 = 0 THEN 13 ELSE 0 END AS alen,
        |    doc_id % 7 = 5 AS corrupt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN corrupt THEN 20
        |    ELSE 5 + hlen + 6 + 10 + (11 + dlen) + (alen + 17 + clen)
        |    END AS BIGINT) AS n_bytes,
        |  CASE WHEN NOT corrupt THEN
        |    CASE WHEN doc_id % 4 < 2 THEN 'webm' ELSE 'matroska' END
        |    END AS format,
        |  CASE WHEN NOT corrupt THEN CAST(doc_id % 1800 + 2 AS BIGINT)
        |    END AS width,
        |  CASE WHEN NOT corrupt THEN
        |    CAST((doc_id * 7) % 1000 + 2 AS BIGINT) END AS height,
        |  CASE WHEN NOT corrupt THEN
        |    CAST((doc_id % 5000 + 100) * (doc_id % 4 + 1) AS BIGINT)
        |    END AS duration_ms,
        |  CASE WHEN NOT corrupt THEN CAST(0 AS BIGINT) END AS n_frames,
        |  CASE WHEN NOT corrupt THEN
        |    ['V_VP9', 'V_AV1', 'V_MPEG4/ISO/AVC']
        |      [CAST(doc_id % 3 AS INT) + 1] END AS codec
        |FROM d ORDER BY doc_id""".stripMargin),

    // TAR member enumeration (the WebDataset shard layout — how
    // large-scale multimodal training data actually ships): spec-true
    // POSIX-ustar archives of paired {sample}.bmp / {sample}.txt
    // members, enumerated by the native TarMembers kernel (512-block
    // walk, octal sizes, zero-block EOF). The oracle re-derives every
    // member's OFFSET as the cumulative 512-padded block sum and every
    // SIZE from the q342 BMP size arithmetic — the whole archive
    // layout is doc_id arithmetic. %9==8 truncates mid-first-member →
    // NULL → the doc vanishes (loud).
    Query("q359_tar_members", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        TarFixtures.payload)
      media.select(col("doc_id"),
          length(col("__p")).cast("long").as("n_bytes"),
          explode(graft.functions.tarMembers(col("__p"))).as("__m"))
        .select(col("doc_id"), col("n_bytes"),
          col("__m.name").as("name"), col("__m.offset").as("offset"),
          col("__m.size").as("size"))
        .orderBy("doc_id", "offset")
    },
    // Tar members: the archive layout replayed as arithmetic — member
    // sizes from the q342 BMP size formula and the txt token count,
    // offsets as the windowed cumulative 512-padded block sum.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 + 2 AS s
         |  FROM documents WHERE doc_id % 9 <> 8),
         |$oTarMemberCtes,
         |tot AS (
         |  SELECT doc_id,
         |    CAST(sum(512 + (size + 511) // 512 * 512) + 1024 AS BIGINT)
         |      AS n_bytes
         |  FROM mem GROUP BY 1)
         |SELECT o.doc_id, tot.n_bytes, o.name,
         |  CAST(o.off AS BIGINT) AS "offset",
         |  CAST(o.size AS BIGINT) AS size
         |FROM off o JOIN tot USING (doc_id)
         |ORDER BY doc_id, "offset"""".stripMargin),

    // The WebDataset ingest pipeline COMPOSED end-to-end: enumerate
    // tar members → SLICE payloads with the built-in substring
    // (offset+1, size — bytes never leave the executor) → decode the
    // image member through the REAL pixel kernel and the text member
    // through the shared tokenizer → join the pair back into SAMPLES
    // on (doc, sample key) → per-sample gate. Wrong offsets cannot
    // pass: a misaligned slice fails the BMP magic and NULLs the
    // stats, and the oracle re-derives lum_sum/dHash from pixel
    // arithmetic (if the slice were shifted even one byte, every
    // pixel statistic would diverge).
    Query("q360_webdataset_pipeline", (s, dir) => {
      // cached: the image and caption branches below both scan `m`,
      // which would otherwise re-run the shard constructor per branch
      val media = graft.operators.CacheScope.track(
        payloads(spreadIds(t(s, dir, "documents")), TarFixtures.payload))
      val m = media.select(col("doc_id"), col("__p"),
          explode(graft.functions.tarMembers(col("__p"))).as("__m"))
        .select(col("doc_id"), col("__p"), col("__m.name").as("name"),
          col("__m.offset").as("offset"), col("__m.size").as("size"))
        .withColumn("sample",
          regexp_extract(col("name"), "_(\\d+)\\.", 1).cast("long"))
      val imgs = m.filter(col("name").endsWith(".bmp"))
        .select(col("doc_id"), col("sample"),
          graft.functions.pixelStats(
            col("__p").substr(col("offset") + 1L, col("size")))
            .as("__s"))
        .select(col("doc_id"), col("sample"),
          col("__s.width").as("width"), col("__s.height").as("height"),
          col("__s.lum_sum").as("lum_sum"), col("__s.dhash").as("dhash"))
      val txts = m.filter(col("name").endsWith(".txt"))
        .select(col("doc_id"), col("sample"),
          size(graft.functions.tokens(
            col("__p").substr(col("offset") + 1L, col("size"))
              .cast("string"))).cast("long").as("n_tokens"))
      imgs.join(txts, Seq("doc_id", "sample"))
        .withColumn("keep", col("width") >= 12L && col("n_tokens") >= 3L)
        .orderBy("doc_id", "sample")
    },
    // WebDataset pipeline: per-sample pixel statistics re-derived from
    // the BMP pixel formula (s' = 4·doc + k — the q342 lum/dHash CTEs)
    // joined to the arithmetic token count; offsets never appear — the
    // engine's slices are proven by the stats matching.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 + 2 AS s
         |  FROM documents WHERE doc_id % 9 <> 8),
         |sm AS (
         |  SELECT doc_id, unnest(range(s)) AS k FROM d),
         |pp AS (
         |  SELECT doc_id, k, 4 * doc_id + k AS sp,
         |    (4 * doc_id + k) % 24 + 9 AS w,
         |    ((4 * doc_id + k) * 5) % 24 + 8 AS h
         |  FROM sm),
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
         |    FROM pp)),
         |st AS (
         |  SELECT doc_id, k, CAST(sum(lum) AS BIGINT) AS lum_sum
         |  FROM lum GROUP BY 1, 2),
         |${oDhashCtes(Seq("doc_id", "k"), "kk")},
         |dh AS (
         |  SELECT pp.doc_id, pp.k,
         |    ${oSignedHash("x.hraw", "dhash")}
         |  FROM pp LEFT JOIN (
         |    SELECT doc_id, k, sum(CAST(1 AS HUGEINT) << CAST(kk AS INT))
         |      AS hraw
         |    FROM bits GROUP BY 1, 2) x
         |    ON x.doc_id = pp.doc_id AND x.k = pp.k)
         |SELECT pp.doc_id, CAST(pp.k AS BIGINT) AS sample,
         |  CAST(pp.w AS BIGINT) AS width, CAST(pp.h AS BIGINT) AS height,
         |  st.lum_sum, dh.dhash,
         |  CAST((pp.doc_id + pp.k) % 7 + 1 AS BIGINT) AS n_tokens,
         |  pp.w >= 12 AND (pp.doc_id + pp.k) % 7 + 1 >= 3 AS keep
         |FROM pp JOIN st ON st.doc_id = pp.doc_id AND st.k = pp.k
         |JOIN dh ON dh.doc_id = pp.doc_id AND dh.k = pp.k
         |ORDER BY pp.doc_id, sample""".stripMargin),

    // GZIP member decode (RFC 1952 — the decompression hop in front of
    // .warc.gz / .jsonl.gz / .tar.gz ingest): hand-rolled stored-block
    // gzip fixtures (bit-looped CRC-32, no Deflater — the construction
    // shares no code with the Inflater-side kernel) across three
    // framings — plain, FNAME-bearing (%4==2), and TWO CONCATENATED
    // MEMBERS (%6==5, the spec's required concatenation semantics) —
    // with a FLIPPED CRC byte on %10==3 that the kernel's integrity
    // check must quarantine (a decompressor's output feeds parsers, so
    // a silent bitflip is the failure mode that matters).
    Query("q361_gzip_decode", (s, dir) => {
      val media = payloads(docIds(s, dir), TarFixtures.gzPayload)
      media.select(col("doc_id"),
          length(col("__p")).cast("long").as("gz_bytes"),
          graft.functions.gzipDecode(col("__p")).as("__d"))
        .select(col("doc_id"), col("gz_bytes"),
          length(col("__d")).cast("long").as("n_bytes"),
          size(graft.functions.tokens(col("__d").cast("string")))
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    // Gzip decode: frame sizes are arithmetic — 23 bytes of overhead
    // per plain member (10 header + 5 stored-block + 8 trailer), +6
    // for the planted FNAME, ×2 members on the concatenation slice.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 40 + 1 AS n,
        |    2 * (doc_id % 40 + 1) - 1 AS sz,
        |    doc_id % 10 = 3 AS corrupt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 6 = 5 THEN 46 + sz
        |    WHEN doc_id % 4 = 2 THEN 29 + sz
        |    ELSE 23 + sz END AS BIGINT) AS gz_bytes,
        |  CASE WHEN NOT corrupt THEN CAST(sz AS BIGINT) END AS n_bytes,
        |  CASE WHEN NOT corrupt THEN CAST(n AS BIGINT) END AS n_tokens
        |FROM d ORDER BY doc_id""".stripMargin),

    // The .tar.gz WebDataset shard read — THREE kernels chained in one
    // codegen'd projection: gzip_decode → tar_members → explode. NULL
    // propagates loudly through the chain: a gzip-level truncation
    // (%11==7) kills the decompression hop, and the %9==8 tar
    // truncation now hides INSIDE a valid gzip member (correct CRC
    // over corrupt content) and must be caught by the tar walk.
    Query("q362_webdataset_gz", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        TarFixtures.gzTarPayload)
      media.select(col("doc_id"),
          length(col("__p")).cast("long").as("gz_bytes"),
          explode(graft.functions.tarMembers(
            graft.functions.gzipDecode(col("__p")))).as("__m"))
        .select(col("doc_id"), col("gz_bytes"),
          col("__m.name").as("name"), col("__m.offset").as("offset"),
          col("__m.size").as("size"))
        .orderBy("doc_id", "offset")
    },
    // .tar.gz chain: the q359 layout arithmetic behind a 23-byte gzip
    // envelope, minus both corruption slices (gzip-level %11==7 and
    // the in-envelope tar truncation %9==8).
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 + 2 AS s
         |  FROM documents WHERE doc_id % 9 <> 8 AND doc_id % 11 <> 7),
         |$oTarMemberCtes,
         |tot AS (
         |  SELECT doc_id,
         |    CAST(sum(512 + (size + 511) // 512 * 512) + 1024 AS BIGINT)
         |      AS tar_bytes
         |  FROM mem GROUP BY 1)
         |SELECT o.doc_id, CAST(tot.tar_bytes + 23 AS BIGINT) AS gz_bytes,
         |  o.name, CAST(o.off AS BIGINT) AS "offset",
         |  CAST(o.size AS BIGINT) AS size
         |FROM off o JOIN tot USING (doc_id)
         |ORDER BY doc_id, "offset"""".stripMargin),

    // Image METADATA STRIP — the multimodal PRIVACY pass (the q137
    // PII-redaction discipline taken to pixels): camera EXIF carries
    // GPS/serial/timestamps, PNG text chunks carry arbitrary payloads;
    // both must go while the PIXELS survive bit-identical. Gated with
    // DECODE INVARIANCE: the PNG slice re-decodes the stripped bytes
    // and its lum_sum + dHash must equal the original's (the tEXt
    // chunk is ancillary by spec — removal provably cannot change
    // pixels); the JPEG slice re-parses headers (dims preserved,
    // orientation resets to 1 — the Exif is GONE, not blanked). The
    // bad-magic slice NULLs: a privacy pass must never silently pass
    // unstripped bytes.
    Query("q363_metadata_strip", (s, dir) => {
      val media = payloads(docIds(s, dir), PixelFixtures.stripPayload)
      val st = media.select(col("doc_id"),
        length(col("__p")).cast("long").as("n_bytes"), col("__p"),
        graft.functions.mediaStrip(col("__p")).as("__s"))
      st.select(col("doc_id"), col("n_bytes"),
          length(col("__s")).cast("long").as("stripped_bytes"),
          graft.operators.Multimodal.headerMeta(col("__s"))
            .getField("format").as("format"),
          graft.operators.Multimodal.headerMeta(col("__p"))
            .getField("orientation").as("orientation_before"),
          graft.operators.Multimodal.headerMeta(col("__s"))
            .getField("orientation").as("orientation_after"),
          (col("n_bytes") - length(col("__s"))).cast("long")
            .as("meta_removed"),
          when(col("doc_id") % 3 === 0,
            graft.functions.pixelStats(col("__p")).getField("lum_sum") ===
              graft.functions.pixelStats(col("__s")).getField("lum_sum") &&
              graft.functions.pixelStats(col("__p")).getField("dhash") ===
                graft.functions.pixelStats(col("__s")).getField("dhash"))
            .when(col("doc_id") % 3 === 1,
              graft.operators.Multimodal.headerMeta(col("__s"))
                .getField("width") ===
                graft.operators.Multimodal.headerMeta(col("__p"))
                  .getField("width") &&
                graft.operators.Multimodal.headerMeta(col("__s"))
                  .getField("height") ===
                  graft.operators.Multimodal.headerMeta(col("__p"))
                    .getField("height"))
            .as("pixels_invariant"))
        .orderBy("doc_id")
    },
    // Metadata strip: every size is layout arithmetic (the PNG's tEXt
    // chunk is 16 + digits-of-doc_id bytes; the JPEG's planted
    // Exif + COM total 44), orientation resets to 1, invariance TRUE
    // by the engine's own re-decode.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 3 AS m,
        |    68 + ((doc_id * 5) % 24 + 8) * (1 + doc_id % 24 + 9)
        |      AS png_sz,
        |    doc_id % 8 + 1 AS o,
        |    length(CAST(doc_id AS VARCHAR)) AS dg
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN m = 0 THEN png_sz + 16 + dg
        |    WHEN m = 1 THEN 85 ELSE png_sz END AS BIGINT) AS n_bytes,
        |  CASE WHEN m = 0 THEN CAST(png_sz AS BIGINT)
        |    WHEN m = 1 THEN CAST(41 AS BIGINT) END AS stripped_bytes,
        |  CASE WHEN m = 0 THEN 'png' WHEN m = 1 THEN 'jpeg' END
        |    AS format,
        |  CASE WHEN m = 0 THEN CAST(1 AS BIGINT)
        |    WHEN m = 1 THEN CAST(o AS BIGINT) END AS orientation_before,
        |  CASE WHEN m < 2 THEN CAST(1 AS BIGINT) END
        |    AS orientation_after,
        |  CASE WHEN m = 0 THEN CAST(16 + dg AS BIGINT)
        |    WHEN m = 1 THEN CAST(44 AS BIGINT) END AS meta_removed,
        |  CASE WHEN m < 2 THEN TRUE END AS pixels_invariant
        |FROM d ORDER BY doc_id""".stripMargin),

    // ZIP member enumeration + BOTH decompression paths (the other
    // archive data ships in, completing tar/gzip/zip): the central
    // directory is walked from the EOCD BACKWARD, every member's data
    // offset resolved through its LOCAL header, and content is proven
    // per member by `content_check` — STORED .bmp members slice
    // straight into the pixel kernel (lum_sum), DEFLATED .txt members
    // inflate (inflate_raw to exactly usize) and tokenize. The oracle
    // re-derives the whole layout (no 512 padding here — zip packs
    // tight) AND the content columns from the shared arithmetic.
    // %8==6 truncates the EOCD → NULL.
    Query("q364_zip_members", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        TarFixtures.zipPayload)
      val m = media.select(col("doc_id"), col("__p"),
          length(col("__p")).cast("long").as("n_bytes"),
          explode(graft.functions.zipMembers(col("__p"))).as("__m"))
        .select(col("doc_id"), col("__p"), col("n_bytes"),
          col("__m.name").as("name"), col("__m.method").as("method"),
          col("__m.offset").as("offset"), col("__m.csize").as("csize"),
          col("__m.usize").as("usize"))
      val slice = col("__p").substr(col("offset") + 1L, col("csize"))
      m.withColumn("content_check",
          when(col("name").endsWith(".txt"),
            size(graft.functions.tokens(
              graft.functions.inflateRaw(slice, col("usize"))
                .cast("string"))).cast("long"))
            .otherwise(graft.functions.pixelStats(slice)
              .getField("lum_sum")))
        .drop("__p")
        .orderBy("doc_id", "offset")
    },
    // Zip members: the tight-packed layout replayed as arithmetic
    // (locals 30+nl, central entries 46+nl, EOCD 22; deflated csize =
    // usize + 5 for the one stored block) + the q360 pixel CTEs for
    // the stored .bmp content column.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 3 + 2 AS s,
        |    length(CAST(doc_id AS VARCHAR)) + 6 AS nl
        |  FROM documents WHERE doc_id % 8 <> 6),
        |mem AS (
        |  SELECT doc_id, nl, u.j AS j, u.k AS k, u.name AS name,
        |    u.method AS method, u.csize AS csize, u.usize AS usize
        |  FROM (
        |    SELECT doc_id, nl, unnest(flatten(list_transform(range(s),
        |      k -> [
        |        {'j': 2 * k, 'k': k,
        |         'name': CAST(doc_id AS VARCHAR) || '_'
        |           || CAST(k AS VARCHAR) || '.bmp',
        |         'method': 0,
        |         'csize': 54 + (((4 * doc_id + k) * 5) % 24 + 8)
        |           * (((3 * ((4 * doc_id + k) % 24 + 9) + 3) // 4) * 4),
        |         'usize': 54 + (((4 * doc_id + k) * 5) % 24 + 8)
        |           * (((3 * ((4 * doc_id + k) % 24 + 9) + 3) // 4) * 4)},
        |        {'j': 2 * k + 1, 'k': k,
        |         'name': CAST(doc_id AS VARCHAR) || '_'
        |           || CAST(k AS VARCHAR) || '.txt',
        |         'method': 8,
        |         'csize': 2 * ((doc_id + k) % 7 + 1) - 1 + 5,
        |         'usize': 2 * ((doc_id + k) % 7 + 1) - 1}]))) AS u
        |    FROM d)),
        |off AS (
        |  SELECT *, coalesce(sum(30 + nl + csize)
        |      OVER (PARTITION BY doc_id ORDER BY j
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + 30 + nl AS dataoff
        |  FROM mem),
        |tot AS (
        |  SELECT doc_id, CAST(sum(30 + nl + csize) + sum(46 + nl) + 22
        |    AS BIGINT) AS n_bytes
        |  FROM mem GROUP BY 1),
        |pp AS (
        |  SELECT doc_id, k, 4 * doc_id + k AS sp,
        |    (4 * doc_id + k) % 24 + 9 AS w,
        |    ((4 * doc_id + k) * 5) % 24 + 8 AS h
        |  FROM (SELECT doc_id, unnest(range(s)) AS k FROM d)),
        |lum AS (
        |  SELECT doc_id, k,
        |    299 * u.p + 587 * ((u.p * 3) % 256)
        |      + 114 * ((u.p * 5) % 256) AS lum
        |  FROM (
        |    SELECT doc_id, k,
        |      unnest(flatten(list_transform(range(h), y ->
        |        list_transform(range(w), x ->
        |          {'p': ((x + sp % 31) * (y + sp % 37) * 3 + sp)
        |                % 256})))) AS u
        |    FROM pp)),
        |st AS (
        |  SELECT doc_id, k, CAST(sum(lum) AS BIGINT) AS lum_sum
        |  FROM lum GROUP BY 1, 2)
        |SELECT o.doc_id, tot.n_bytes, o.name,
        |  CAST(o.method AS BIGINT) AS method,
        |  CAST(o.dataoff AS BIGINT) AS "offset",
        |  CAST(o.csize AS BIGINT) AS csize,
        |  CAST(o.usize AS BIGINT) AS usize,
        |  CASE WHEN o.method = 8
        |    THEN CAST((o.doc_id + o.k) % 7 + 1 AS BIGINT)
        |    ELSE st.lum_sum END AS content_check
        |FROM off o JOIN tot USING (doc_id)
        |LEFT JOIN st ON st.doc_id = o.doc_id AND st.k = o.k
        |ORDER BY o.doc_id, "offset"""".stripMargin),

    // q368: PNG palette + alpha decode — the color types a web corpus
    // actually ships beyond gray/RGB (palette PNGs are ubiquitous).
    // v = doc%4: 256-entry palette / gray+alpha / RGBA / a CORRUPT
    // 64-entry palette whose index stream overruns it (the kernel's
    // up-front index validation must NULL, never read past the PLTE).
    // Alpha bytes are present in the payloads and IGNORED by the
    // luminance contract; the oracle re-derives every stat from the
    // shared pixel + palette arithmetic.
    Query("q368_png_palette_alpha", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        PixelFixtures.paletteAlphaPayload)
      media
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pixelCols(dhash = false): _*)
        .orderBy("doc_id")
    },
    // PNG palette/alpha: stats re-derived from the shared pixel
    // arithmetic; palette luminance through the GIF-shared palette
    // formula (entry i = (i, 3i%256, 5i%256)); the corrupt variant's
    // NULL-ness decided by the replayed max-index predicate.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS v,
        |    doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, v,
        |    ((u.x + doc_id % 31) * (u.y + doc_id % 37) * 3 + doc_id)
        |      % 256 AS p
        |  FROM (
        |    SELECT doc_id, v,
        |      unnest(flatten(list_transform(range(h), y ->
        |        list_transform(range(w), x -> {'x': x, 'y': y})))) AS u
        |    FROM d)),
        |lm AS (
        |  SELECT doc_id, v, p,
        |    CASE WHEN v = 1 THEN 1000 * p
        |      ELSE 299 * p + 587 * ((p * 3) % 256)
        |        + 114 * ((p * 5) % 256) END AS lum
        |  FROM px),
        |agg AS (
        |  SELECT doc_id, max(p) AS maxp,
        |    CAST(sum(lum) AS BIGINT) AS lum_sum,
        |    CAST(sum(lum * lum) AS BIGINT) AS lum_sq_sum
        |  FROM lm GROUP BY 1),
        |ok AS (
        |  SELECT d.doc_id, d.v, d.w, d.h, a.lum_sum, a.lum_sq_sum,
        |    d.doc_id % 10 <> 7 AND NOT (d.v = 3 AND a.maxp >= 64)
        |      AS parsed
        |  FROM d JOIN agg a USING (doc_id))
        |SELECT doc_id, parsed,
        |  CASE WHEN parsed THEN 'png' END AS format,
        |  CASE WHEN parsed THEN CAST(w AS BIGINT) END AS width,
        |  CASE WHEN parsed THEN CAST(h AS BIGINT) END AS height,
        |  CASE WHEN parsed THEN CAST(CASE v WHEN 0 THEN 3 WHEN 1 THEN 2
        |    WHEN 2 THEN 4 ELSE 3 END AS BIGINT) END AS channels,
        |  CASE WHEN parsed THEN CAST(w * h AS BIGINT) END AS n_pixels,
        |  CASE WHEN parsed THEN lum_sum END AS lum_sum,
        |  CASE WHEN parsed THEN lum_sq_sum END AS lum_sq_sum
        |FROM ok ORDER BY doc_id""".stripMargin),

    // q377: PNG 16-bit depth + Adam7 interlace (round 16 — completes
    // the PNG layout matrix). v = doc%4: 16-bit gray / 16-bit RGB /
    // Adam7-interlaced gray / the 16-bit+Adam7 COMBINATION. 16-bit
    // samples reduce to their high byte (low bytes carry a DIFFERENT
    // arithmetic the reduction must ignore); Adam7's seven passes are
    // reconstructed per pass and scattered through the §8.2
    // permutation — the oracle replays the LOGICAL pixels, proving the
    // wire-layout reassembly changed nothing.
    Query("q377_png_deep_interlace", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        PixelFixtures.pngDeepPayload)
      media
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pixelCols(dhash = true): _*)
        .orderBy("doc_id")
    },
    // PNG 16-bit + Adam7: the wire layout (depth, interlace) changes
    // NOTHING about the logical pixels — the oracle replays the shared
    // pixel arithmetic (gray 1000·p; RGB 299p+587(3p%256)+114(5p%256))
    // per pixel and re-derives sums + dHash; %10==7 truncation NULLs.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 AS v,
         |    doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h
         |  FROM documents),
         |lum AS (
         |  SELECT doc_id, w, h, x, y,
         |    CASE WHEN v IN (0, 2) THEN 1000 * p
         |      ELSE 299 * p + 587 * ((p * 3) % 256) + 114 * ((p * 5) % 256)
         |    END AS lum
         |  FROM (
         |    SELECT doc_id, v, w, h, u.x AS x, u.y AS y,
         |      ((u.x + doc_id % 31) * (u.y + doc_id % 37) * 3 + doc_id)
         |        % 256 AS p
         |    FROM (
         |      SELECT doc_id, v, w, h,
         |        unnest(flatten(list_transform(range(h), y ->
         |          list_transform(range(w), x -> {'x': x, 'y': y})))) AS u
         |      FROM d))),
         |${oPixelReportTail("png", "CASE WHEN d.v IN (0, 2) THEN 1 ELSE 3 END")}""".stripMargin),

    // q379: SUB-BYTE PNG depths (round 16 — closes the PNG layout
    // matrix completely). v = doc%4: 1-bit gray / 2-bit gray
    // Adam7-INTERLACED (bit packing composed with the pass scatter) /
    // 4-bit gray / 4-bit 16-entry palette. Gray samples display per
    // the spec's v·255/(2^d−1) mapping; the oracle replays the scaled
    // values arithmetically.
    Query("q379_png_subbyte", (s, dir) => {
      val media = payloads(docIds(s, dir), PixelFixtures.pngSubBytePayload)
      media
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pixelCols(dhash = true): _*)
        .orderBy("doc_id")
    },
    // Sub-byte PNG: per-pixel lum from the depth's value mapping —
    // 1-bit (p%2)·255, 2-bit (p%4)·85, 4-bit (p%16)·17, palette
    // 4-bit via the shared palette arithmetic over index p%16.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 AS v,
         |    doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h
         |  FROM documents),
         |lum AS (
         |  SELECT doc_id, w, h, x, y,
         |    CASE v
         |      WHEN 0 THEN 1000 * ((p % 2) * 255)
         |      WHEN 1 THEN 1000 * ((p % 4) * 85)
         |      WHEN 2 THEN 1000 * ((p % 16) * 17)
         |      ELSE 299 * (p % 16) + 587 * ((p % 16) * 3 % 256)
         |        + 114 * ((p % 16) * 5 % 256)
         |    END AS lum
         |  FROM (
         |    SELECT doc_id, v, w, h, u.x AS x, u.y AS y,
         |      ((u.x + doc_id % 31) * (u.y + doc_id % 37) * 3 + doc_id)
         |        % 256 AS p
         |    FROM (
         |      SELECT doc_id, v, w, h,
         |        unnest(flatten(list_transform(range(h), y ->
         |          list_transform(range(w), x -> {'x': x, 'y': y})))) AS u
         |      FROM d))),
         |${oPixelReportTail("png", "CASE WHEN d.v = 3 THEN 3 ELSE 1 END")}""".stripMargin),

    // q369: the ZSTD hop — the q361 contract for the OTHER compressor
    // real corpora ship (.jsonl.zst). Multi-frame concatenation
    // (%6==5), a planted payload bitflip the XXH64 checksum must
    // quarantine (%10==3), and a frame truncation (%11==7). The
    // compressed size is encoder-dependent (entropy coding) so, unlike
    // gzip's stored blocks, it is NOT an oracle column — the oracle
    // grades the DECODED side only.
    Query("q369_zstd_decode", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        TarFixtures.zstPayload)
      media.select(col("doc_id"),
          graft.functions.zstdDecode(col("__p")).as("__d"))
        .select(col("doc_id"), col("__d").isNotNull.as("parsed"),
          length(col("__d")).cast("long").as("n_bytes"),
          size(graft.functions.tokens(col("__d").cast("string")))
            .cast("long").as("n_tokens"))
        .withColumn("n_tokens",
          when(col("parsed"), col("n_tokens"))) // size() is -1 on NULL
        .orderBy("doc_id")
    },
    // zstd hop: decoded-side columns only (compressed size is
    // encoder-dependent); corrupt = bitflip or truncation.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 40 + 1 AS n,
        |    2 * (doc_id % 40 + 1) - 1 AS sz,
        |    doc_id % 10 = 3 OR doc_id % 11 = 7 AS corrupt
        |  FROM documents)
        |SELECT doc_id, NOT corrupt AS parsed,
        |  CASE WHEN NOT corrupt THEN CAST(sz AS BIGINT) END AS n_bytes,
        |  CASE WHEN NOT corrupt THEN CAST(n AS BIGINT) END AS n_tokens
        |FROM d ORDER BY doc_id""".stripMargin),

    // q370: the .tar.zst WebDataset chain — zstd_decode → tar_members
    // → explode in one projection (the q362 shape with the zstd hop).
    // The %9==8 tar truncation hides INSIDE a checksum-valid frame and
    // must be caught by the tar walk; %11==7 kills the frame itself.
    Query("q370_webdataset_zst", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        TarFixtures.zstTarPayload)
      media.select(col("doc_id"),
          explode(graft.functions.tarMembers(
            graft.functions.zstdDecode(col("__p")))).as("__m"))
        .select(col("doc_id"),
          col("__m.name").as("name"), col("__m.offset").as("offset"),
          col("__m.size").as("size"))
        .orderBy("doc_id", "offset")
    },
    // .tar.zst chain: the q362 member layout behind the zstd hop.
    oracle =
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 + 2 AS s
        |  FROM documents WHERE doc_id % 9 <> 8 AND doc_id % 11 <> 7),
        |mem AS (
        |  SELECT doc_id, u.j AS j, u.name AS name, u.size AS size
        |  FROM (
        |    SELECT doc_id, unnest(flatten(list_transform(range(s),
        |      k -> [
        |        {'j': 2 * k,
        |         'name': CAST(doc_id AS VARCHAR) || '_'
        |           || CAST(k AS VARCHAR) || '.bmp',
        |         'size': 54 + (((4 * doc_id + k) * 5) % 24 + 8)
        |           * (((3 * ((4 * doc_id + k) % 24 + 9) + 3) // 4) * 4)},
        |        {'j': 2 * k + 1,
        |         'name': CAST(doc_id AS VARCHAR) || '_'
        |           || CAST(k AS VARCHAR) || '.txt',
        |         'size': 2 * ((doc_id + k) % 7 + 1) - 1}]))) AS u
        |    FROM d))
        |SELECT doc_id, name,
        |  CAST(512 * (j + 1) + coalesce(sum((size + 511) // 512 * 512)
        |    OVER (PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS "offset",
        |  CAST(size AS BIGINT) AS size
        |FROM mem ORDER BY doc_id, "offset"""".stripMargin),

    // q372: ORACLE-GRADE JPEG pixels — the round-15 flagship: baseline
    // sequential JPEG decodes through the native JpegKernel (markers,
    // canonical Huffman, entropy layer with byte stuffing and restart
    // lanes, dequant, and the PINNED fixed-point IDCT — T.81 does not
    // pin an IDCT, so this kernel fixes one integer implementation as
    // its contract and the oracle replays it). Fixture blocks are
    // DC-only, collapsing the IDCT to a closed form
    // (clamp(⌊(dc·8·1448²+2^23)/2^24⌋)+128) the oracle computes per
    // block; variants cover grayscale, neutral-chroma 4:4:4 AND
    // 4:2:0 color (the integer JFIF matrix yields R=G=B=Y; 4:2:0
    // exercises the four-Y-blocks-per-MCU interleave where a wrong
    // walk scrambles every block assignment), and restart-marker
    // lanes. JPEG rows now assert full pixel statistics INCLUDING the
    // dHash — not just NULL-ness.
    Query("q372_jpeg_pixels", (s, dir) => {
      // not spread: 8×8 single-block JPEGs — the construct+decode stage
      // is lighter than the exchange it would take to parallelize it
      val media = payloads(docIds(s, dir), PixelFixtures.jpegPayload)
      media
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pixelCols(dhash = true): _*)
        .orderBy("doc_id")
    },
    // JPEG pixels: DC-only blocks replay the pinned IDCT's closed form
    // per block (floor((dc·8·2096704 + 2^23)/2^24), clamped, +128);
    // per-pixel luminance is the block value, the dHash the q365 cell
    // flood over it. Gray, neutral-chroma color, and restart variants
    // share one luminance formula; %10==7 truncation is NULL.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 AS v,
         |    doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h
         |  FROM documents),
         |blk AS (
         |  SELECT doc_id, u.bx AS bx, u.by AS by,
         |    ((u.bx + doc_id % 31) * (u.by + doc_id % 37) * 3 + doc_id)
         |      % 256 - 128 AS dc
         |  FROM (
         |    SELECT doc_id,
         |      unnest(flatten(list_transform(range((h + 7) // 8), by ->
         |        list_transform(range((w + 7) // 8), bx ->
         |          {'bx': bx, 'by': by})))) AS u
         |    FROM d)),
         |bv AS (
         |  SELECT doc_id, bx, by,
         |    CASE WHEN f < -128 THEN 0 WHEN f > 127 THEN 255
         |      ELSE f + 128 END AS val
         |  FROM (
         |    SELECT doc_id, bx, by,
         |      CAST(floor((dc * 8 * 2096704 + 8388608) / 16777216.0)
         |        AS BIGINT) AS f
         |    FROM blk)),
         |px AS (
         |  SELECT doc_id, w, h, u.x AS x, u.y AS y
         |  FROM (
         |    SELECT doc_id, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x -> {'x': x, 'y': y})))) AS u
         |    FROM d)),
         |lum AS (
         |  SELECT p.doc_id, p.w, p.h, p.x, p.y, 1000 * b.val AS lum
         |  FROM px p JOIN bv b ON b.doc_id = p.doc_id
         |    AND b.bx = p.x // 8 AND b.by = p.y // 8),
         |${oPixelReportTail("jpeg", "CASE WHEN d.v IN (1, 3) THEN 3 ELSE 1 END")}""".stripMargin),

    // q376: PROGRESSIVE JPEG pixels (round 16) — SOF2 through the
    // native kernel: multi-scan marker walk, DC first + refinement
    // scans (successive approximation, Al=1→0), AC spectral-selection
    // band scans with EOBRUN and ZRL, AC refinement with correction
    // bits (T.81 §G), restart lanes resetting predictors AND EOBRUN,
    // and the 4:2:0 grid mismatch (interleaved DC walk vs per-component
    // AC rasters). Fixture blocks carry DC plus TWO AC coefficients
    // (zigzag 1 and 20), so the oracle replays the pinned IDCT's
    // three-term closed form per pixel — same contract as q372, now
    // with AC base functions in play.
    Query("q376_progressive_jpeg", (s, dir) => {
      val media = payloads(spreadIds(t(s, dir, "documents")),
        PixelFixtures.progressiveJpegPayload)
      media
        .select(col("doc_id"),
          graft.functions.pixelStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pixelCols(dhash = true): _*)
        .orderBy("doc_id")
    },
    // Progressive JPEG pixels: q372's replay with the AC base
    // functions live — per-pixel value is the pinned IDCT's three-term
    // closed form (DC + zigzag-1 horizontal + zigzag-20 vertical), the
    // K1/K5 basis rows inlined as literal lists. Small dims keep the
    // per-pixel CTE inside the oracle budget (q372's shape).
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 4 AS v,
         |    doc_id % 24 + 9 AS w, (doc_id * 5) % 24 + 8 AS h
         |  FROM documents),
         |kb AS (SELECT
         |  [2009, 1703, 1138, 400, -400, -1138, -1703, -2009] AS k1,
         |  [1138, -2009, 400, 1703, -1703, -400, 2009, -1138] AS k5),
         |px AS (
         |  SELECT doc_id, w, h, u.x AS x, u.y AS y
         |  FROM (
         |    SELECT doc_id, w, h,
         |      unnest(flatten(list_transform(range(h), y ->
         |        list_transform(range(w), x -> {'x': x, 'y': y})))) AS u
         |    FROM d)),
         |lum AS (
         |  SELECT doc_id, w, h, x, y,
         |    1000 * (CASE WHEN f < -128 THEN 0 WHEN f > 127 THEN 255
         |      ELSE f + 128 END) AS lum
         |  FROM (
         |    SELECT doc_id, w, h, x, y,
         |      CAST(floor((2096704 * 8 * dc
         |        + 23168 * (k1[x % 8 + 1] * a1 + k5[y % 8 + 1] * a2)
         |        + 8388608) / 16777216.0) AS BIGINT) AS f
         |    FROM (
         |      SELECT doc_id, w, h, x, y,
         |        ((x // 8 + doc_id % 31) * (y // 8 + doc_id % 37) * 3
         |          + doc_id) % 256 - 128 AS dc,
         |        (x // 8 + 2 * (y // 8) + doc_id) % 9 - 4 AS a1,
         |        (3 * (x // 8) + y // 8 + 2 * doc_id) % 7 - 3 AS a2,
         |        k1, k5
         |      FROM px, kb))),
         |${oPixelReportTail("jpeg", "CASE WHEN d.v IN (1, 3) THEN 3 ELSE 1 END")}""".stripMargin),

    // q381: IMA/DVI ADPCM sample statistics (round 16 — the fourth
    // WAV codec, the telephony/game-corpus block format): per-block
    // int16 predictor + step-index headers, the public 89-entry
    // step/index tables, low-nibble-first packing, a partial final
    // block, and two corruption plants (step index past the table;
    // mid-data truncation). The oracle replays the ADPCM recursion —
    // per-nibble predictor/step-index state — in a recursive CTE over
    // the same doc_id arithmetic.
    Query("q381_ima_adpcm", (s, dir) => {
      val media = payloads(docIds(s, dir), AudioFixtures.imaPayload)
      media
        .select(col("doc_id"),
          graft.functions.pcmStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pcmCols("codec", "sample_rate", "bits"): _*)
        .orderBy("doc_id")
    },
    // IMA ADPCM: the oracle replays the per-nibble predictor/step
    // recursion — step table literal, diff = step/8 (+step/4 bit0,
    // +step/2 bit1, +step bit2), sign bit3, int16 clamp, index clamp
    // 0..88 — over the same doc_id-derived block headers and nibble
    // bytes, then the q345/q350 statistic shapes over (pos, value).
    oracle =
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, doc_id % 3 + 2 AS nb, doc_id % 4 = 1 AS part,
         |    8000 + (doc_id % 3) * 4000 AS rate,
         |    NOT (doc_id % 10 = 3 OR doc_id % 11 = 7) AS ok
         |  FROM documents),
         |blk AS (
         |  SELECT doc_id, b,
         |    CASE WHEN part AND b = nb - 1 THEN 6 ELSE 12 END AS nbytes,
         |    b * 25 AS pos0,
         |    (doc_id * 7 + b * 131) % 65536 - 32768 AS pred0,
         |    (doc_id + 3 * b) % 89 AS idx0,
         |    rate
         |  FROM (SELECT doc_id, nb, part, rate, unnest(range(nb)) AS b
         |        FROM d WHERE ok)),
         |r(doc_id, b, j, pred, idx, nbytes, pos0) AS (
         |  SELECT doc_id, b, -1, pred0, idx0, nbytes, pos0 FROM blk
         |  UNION ALL
         |  SELECT doc_id, b, j + 1,
         |    greatest(-32768, least(32767,
         |      pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
         |    greatest(0, least(88,
         |      idx + [-1,-1,-1,-1,2,4,6,8][CAST(nib % 8 AS INT) + 1])),
         |    nbytes, pos0
         |  FROM (
         |    SELECT doc_id, b, j, pred, idx, nbytes, pos0, nib,
         |      step // 8
         |        + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
         |        + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
         |        + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END
         |        AS diff
         |    FROM (
         |      SELECT r.*,
         |        CASE WHEN (j + 1) % 2 = 0
         |          THEN ((doc_id + b * 5 + ((j + 1) // 2) * 7 + 3) % 256) % 16
         |          ELSE ((doc_id + b * 5 + ((j + 1) // 2) * 7 + 3) % 256) // 16
         |        END AS nib,
         |        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,
         |         37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
         |         157,173,190,209,230,253,279,307,337,371,408,449,494,
         |         544,598,658,724,796,876,963,1060,1166,1282,1411,1552,
         |         1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,
         |         4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,
         |         12635,13899,15289,16818,18500,20350,22385,24623,27086,
         |         29794,32767][CAST(idx AS INT) + 1] AS step
         |      FROM r WHERE j + 1 < nbytes * 2))),
         |smp AS (
         |  SELECT doc_id, pos0 + j + 1 AS pos, pred AS v FROM r),
         |$oSampleStatsCte
         |SELECT d.doc_id, d.ok AS parsed,
         |  CASE WHEN d.ok THEN 'ima_adpcm' END AS codec,
         |  CASE WHEN d.ok THEN CAST(d.rate AS BIGINT) END AS sample_rate,
         |  CASE WHEN d.ok THEN CAST(4 AS BIGINT) END AS bits,
         |  CASE WHEN d.ok THEN st.n END AS n_samples,
         |  CASE WHEN d.ok THEN st.n * 1000 // d.rate END AS duration_ms,
         |  CASE WHEN d.ok THEN st.sum_q END AS sum_q,
         |  CASE WHEN d.ok THEN st.sq_sum END AS sq_sum,
         |  CASE WHEN d.ok THEN st.n_clipped END AS n_clipped,
         |  CASE WHEN d.ok THEN st.lead_silence END AS lead_silence,
         |  CASE WHEN d.ok THEN st.trail_silence END AS trail_silence
         |FROM d LEFT JOIN st USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // q386: MS-ADPCM sample statistics (round 17 — the fifth WAV
    // codec, the other ubiquitous legacy block format): 7·ch-byte
    // block headers (bPredictor/iDelta/iSamp1/iSamp2 per channel),
    // HIGH-nibble-first packing with channels alternating per nibble
    // in stereo, the public adaptation + coefficient tables, partial
    // final blocks, and two corruption plants (bPredictor past the
    // 7-entry tables; mid-data truncation). The oracle replays the
    // per-nibble predictor/delta recursion — per-channel state in one
    // recursive CTE — over the same doc_id arithmetic.
    Query("q386_ms_adpcm", (s, dir) => {
      val media = payloads(docIds(s, dir), AudioFixtures.msPayload)
      media
        .select(col("doc_id"),
          graft.functions.pcmStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pcmCols("codec", "sample_rate", "channels"): _*)
        .orderBy("doc_id")
    },
    // MS-ADPCM: the per-nibble predictor/delta recursion with
    // PER-CHANNEL state carried in one recursive CTE (channel-1
    // columns idle for mono); header samples (iSamp2 then iSamp1 per
    // channel) emitted by position arithmetic; // truncates toward
    // zero in DuckDB exactly as Scala's integer division does.
    oracle =
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS ch,
         |    11025 * (doc_id % 2 + 1) AS rate,
         |    doc_id % 3 + 2 AS nb, doc_id % 4 = 1 AS part,
         |    NOT (doc_id % 10 = 3 OR doc_id % 11 = 7) AS ok
         |  FROM documents),
         |blk AS (
         |  SELECT doc_id, ch, b,
         |    CASE WHEN part AND b = nb - 1 THEN 6 ELSE 12 END AS nd,
         |    b * (2 * ch + 24) AS pos0,
         |    [256,512,0,192,240,460,392]
         |      [CAST((doc_id + b) % 7 AS INT) + 1] AS c1_0,
         |    [0,-256,0,64,0,-208,-232]
         |      [CAST((doc_id + b) % 7 AS INT) + 1] AS c2_0,
         |    (doc_id * 3 + b * 17) % 1000 + 16 AS d0_0,
         |    (doc_id * 7 + b * 131) % 65536 - 32768 AS is1_0,
         |    (doc_id * 11 + b * 57) % 65536 - 32768 AS is2_0,
         |    [256,512,0,192,240,460,392]
         |      [CAST((doc_id + b + 1) % 7 AS INT) + 1] AS c1_1,
         |    [0,-256,0,64,0,-208,-232]
         |      [CAST((doc_id + b + 1) % 7 AS INT) + 1] AS c2_1,
         |    (doc_id * 3 + b * 17 + 29) % 1000 + 16 AS d0_1,
         |    (doc_id * 7 + b * 131 + 37) % 65536 - 32768 AS is1_1,
         |    (doc_id * 11 + b * 57 + 73) % 65536 - 32768 AS is2_1
         |  FROM (SELECT doc_id, ch, nb, part, unnest(range(nb)) AS b
         |        FROM d WHERE ok)),
         |r(doc_id, b, j, ch, nd, pos0, s1_0, s2_0, dl_0, c1_0, c2_0,
         |  s1_1, s2_1, dl_1, c1_1, c2_1, v) AS (
         |  SELECT doc_id, b, -1, ch, nd, pos0, is1_0, is2_0, d0_0, c1_0,
         |    c2_0, is1_1, is2_1, d0_1, c1_1, c2_1, CAST(NULL AS BIGINT)
         |  FROM blk
         |  UNION ALL
         |  SELECT doc_id, b, j + 1, ch, nd, pos0,
         |    CASE WHEN c = 0 THEN pred ELSE s1_0 END,
         |    CASE WHEN c = 0 THEN s1_0 ELSE s2_0 END,
         |    CASE WHEN c = 0
         |      THEN greatest(16, least(32767, (adapt * dl_0) // 256))
         |      ELSE dl_0 END,
         |    c1_0, c2_0,
         |    CASE WHEN c = 1 THEN pred ELSE s1_1 END,
         |    CASE WHEN c = 1 THEN s1_1 ELSE s2_1 END,
         |    CASE WHEN c = 1
         |      THEN greatest(16, least(32767, (adapt * dl_1) // 256))
         |      ELSE dl_1 END,
         |    c1_1, c2_1,
         |    pred
         |  FROM (
         |    SELECT doc_id, b, j, ch, nd, pos0, s1_0, s2_0, dl_0, c1_0,
         |      c2_0, s1_1, s2_1, dl_1, c1_1, c2_1, c, nib,
         |      [230,230,230,230,307,409,512,614,768,614,512,409,307,
         |       230,230,230][CAST(nib AS INT) + 1] AS adapt,
         |      greatest(-32768, least(32767,
         |        CASE WHEN c = 0
         |          THEN (s1_0 * c1_0 + s2_0 * c2_0) // 256
         |            + (CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END) * dl_0
         |          ELSE (s1_1 * c1_1 + s2_1 * c2_1) // 256
         |            + (CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END) * dl_1
         |        END)) AS pred
         |    FROM (
         |      SELECT r.*, (j + 1) % ch AS c,
         |        CASE WHEN (j + 1) % 2 = 0
         |          THEN ((doc_id + b * 5 + ((j + 1) // 2) * 7 + 3) % 256) // 16
         |          ELSE ((doc_id + b * 5 + ((j + 1) // 2) * 7 + 3) % 256) % 16
         |        END AS nib
         |      FROM r WHERE j + 1 < nd * 2))),
         |smp AS (
         |  SELECT doc_id, pos0 AS pos, is2_0 AS v FROM blk
         |  UNION ALL SELECT doc_id, pos0 + ch, is1_0 FROM blk
         |  UNION ALL SELECT doc_id, pos0 + 1, is2_1 FROM blk WHERE ch = 2
         |  UNION ALL SELECT doc_id, pos0 + 3, is1_1 FROM blk WHERE ch = 2
         |  UNION ALL SELECT doc_id, pos0 + 2 * ch + j, v FROM r WHERE j >= 0),
         |$oSampleStatsCte
         |SELECT d.doc_id, d.ok AS parsed,
         |  CASE WHEN d.ok THEN 'ms_adpcm' END AS codec,
         |  CASE WHEN d.ok THEN CAST(d.rate AS BIGINT) END AS sample_rate,
         |  CASE WHEN d.ok THEN CAST(d.ch AS BIGINT) END AS channels,
         |  CASE WHEN d.ok THEN st.n END AS n_samples,
         |  CASE WHEN d.ok THEN (st.n // d.ch) * 1000 // d.rate
         |    END AS duration_ms,
         |  CASE WHEN d.ok THEN st.sum_q END AS sum_q,
         |  CASE WHEN d.ok THEN st.sq_sum END AS sq_sum,
         |  CASE WHEN d.ok THEN st.n_clipped END AS n_clipped,
         |  CASE WHEN d.ok THEN st.lead_silence END AS lead_silence,
         |  CASE WHEN d.ok THEN st.trail_silence END AS trail_silence
         |FROM d LEFT JOIN st USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // q387: STEREO IMA ADPCM (round 17 — the interleave layout mono
    // q381 stops short of): per-block 4-byte headers for EACH channel,
    // then alternating 4-byte per-channel chunks, output
    // frame-interleaved. Corruption plants: right-channel step index
    // past the table; a truncation that breaks the chunk-pair rule.
    // The oracle runs q381's recursion once per LANE with the chunk
    // byte mapping k = (t//4)·8 + lane·4 + t%4 and interleaves by
    // position arithmetic.
    Query("q387_stereo_ima_adpcm", (s, dir) => {
      val media = payloads(docIds(s, dir), AudioFixtures.imaStereoPayload)
      media
        .select(col("doc_id"),
          graft.functions.pcmStats(col("__p")).as("__s"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pcmCols("codec", "sample_rate", "channels"): _*)
        .orderBy("doc_id")
    },
    // Stereo IMA ADPCM: q381's per-nibble recursion run once per LANE
    // (left/right), the chunk byte mapping k = (t//4)·8 + lane·4 +
    // t%4 picking each lane's bytes out of the alternating 4-byte
    // channel chunks, frame interleave by position arithmetic
    // pos = pos0 + 2·(j+1) + lane.
    oracle =
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, doc_id % 3 + 2 AS nb, doc_id % 4 = 1 AS part,
         |    8000 + (doc_id % 3) * 4000 AS rate,
         |    NOT (doc_id % 10 = 3 OR doc_id % 11 = 7) AS ok
         |  FROM documents),
         |blk AS (
         |  SELECT doc_id, b, lane,
         |    CASE WHEN part AND b = nb - 1 THEN 4 ELSE 8 END AS nbytes,
         |    b * 34 AS pos0,
         |    CASE WHEN lane = 0 THEN (doc_id * 7 + b * 131) % 65536 - 32768
         |      ELSE (doc_id * 13 + b * 59) % 65536 - 32768 END AS pred0,
         |    CASE WHEN lane = 0 THEN (doc_id + 3 * b) % 89
         |      ELSE (doc_id * 5 + 7 * b) % 89 END AS idx0
         |  FROM (SELECT doc_id, nb, part, unnest(range(nb)) AS b
         |        FROM d WHERE ok),
         |    (SELECT unnest(range(2)) AS lane)),
         |r(doc_id, b, lane, j, pred, idx, nbytes, pos0) AS (
         |  SELECT doc_id, b, lane, -1, pred0, idx0, nbytes, pos0 FROM blk
         |  UNION ALL
         |  SELECT doc_id, b, lane, j + 1,
         |    greatest(-32768, least(32767,
         |      pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
         |    greatest(0, least(88,
         |      idx + [-1,-1,-1,-1,2,4,6,8][CAST(nib % 8 AS INT) + 1])),
         |    nbytes, pos0
         |  FROM (
         |    SELECT doc_id, b, lane, j, pred, idx, nbytes, pos0, nib,
         |      step // 8
         |        + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END
         |        + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2 ELSE 0 END
         |        + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END
         |        AS diff
         |    FROM (
         |      SELECT r.*,
         |        CASE WHEN (j + 1) % 2 = 0
         |          THEN ((doc_id + b * 5
         |            + ((((j + 1) // 2) // 4) * 8 + lane * 4
         |               + ((j + 1) // 2) % 4) * 7 + 3) % 256) % 16
         |          ELSE ((doc_id + b * 5
         |            + ((((j + 1) // 2) // 4) * 8 + lane * 4
         |               + ((j + 1) // 2) % 4) * 7 + 3) % 256) // 16
         |        END AS nib,
         |        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,
         |         37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
         |         157,173,190,209,230,253,279,307,337,371,408,449,494,
         |         544,598,658,724,796,876,963,1060,1166,1282,1411,1552,
         |         1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,
         |         4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,
         |         12635,13899,15289,16818,18500,20350,22385,24623,27086,
         |         29794,32767][CAST(idx AS INT) + 1] AS step
         |      FROM r WHERE j + 1 < nbytes * 2))),
         |smp AS (
         |  SELECT doc_id, pos0 + 2 * (j + 1) + lane AS pos, pred AS v
         |  FROM r),
         |$oSampleStatsCte
         |SELECT d.doc_id, d.ok AS parsed,
         |  CASE WHEN d.ok THEN 'ima_adpcm' END AS codec,
         |  CASE WHEN d.ok THEN CAST(d.rate AS BIGINT) END AS sample_rate,
         |  CASE WHEN d.ok THEN CAST(2 AS BIGINT) END AS channels,
         |  CASE WHEN d.ok THEN st.n END AS n_samples,
         |  CASE WHEN d.ok THEN (st.n // 2) * 1000 // d.rate
         |    END AS duration_ms,
         |  CASE WHEN d.ok THEN st.sum_q END AS sum_q,
         |  CASE WHEN d.ok THEN st.sq_sum END AS sq_sum,
         |  CASE WHEN d.ok THEN st.n_clipped END AS n_clipped,
         |  CASE WHEN d.ok THEN st.lead_silence END AS lead_silence,
         |  CASE WHEN d.ok THEN st.trail_silence END AS trail_silence
         |FROM d LEFT JOIN st USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // q388: FLAC sample decode, fixed-predictor subset (round 17 —
    // the sixth codec, the archival lossless format: without sample
    // reconstruction the envelope hash cannot see through FLAC
    // compression). Two sequential frames per payload covering all
    // four subset subframe kinds (constant / verbatim / fixed order
    // 1 / fixed order 2) with Rice-coded partitioned residuals; the
    // oracle replays the fixed predictors as ITERATED PREFIX SUMS
    // (order 1 = one windowed sum of the residuals, order 2 = two) —
    // no recursion needed. Corruption plants: an LPC subframe (out of
    // the stated subset → NULL, loud) and mid-frame truncation.
    Query("q388_flac_decode", (s, dir) => {
      val media = payloads(docIds(s, dir), AudioFixtures.flacPayload)
      media
        .select(col("doc_id"),
          graft.functions.pcmStats(col("__p")).as("__s"),
          graft.functions.audioHash(col("__p")).as("ahash"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pcmCols("codec", "sample_rate", "channels") :+ col("ahash"): _*)
        .orderBy("doc_id")
    },
    // FLAC subset: per-frame samples replayed from the fixture
    // formulas, fixed predictors as ITERATED PREFIX SUMS (two
    // windowed sums), envelope hash via the 65-window abs-energy
    // sign-bit replay (q367's machinery).
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, 8000 + (doc_id % 5) * 4000 AS rate,
         |    2 * (doc_id % 20) + 40 AS n1, doc_id % 30 + 30 AS n2,
         |    NOT (doc_id % 10 = 3 OR doc_id % 11 = 7) AS ok
         |  FROM documents),
         |fx AS (
         |  SELECT doc_id, f, n, kind, n1, unnest(range(n)) AS i
         |  FROM (
         |    SELECT doc_id, u.f AS f, n1,
         |      CASE WHEN u.f = 0 THEN n1 ELSE n2 END AS n,
         |      (doc_id + u.f) % 4 AS kind
         |    FROM d, (SELECT unnest(range(2)) AS f) u
         |    WHERE ok)),
         |rr AS (
         |  SELECT doc_id, f, n, kind, n1, i,
         |    CASE WHEN kind = 2 AND i >= 1
         |        THEN (doc_id + i * 7 + f * 13) % 16 - 8
         |      WHEN kind = 3 AND i >= 2
         |        THEN (doc_id + i * 7 + f * 13) % 5 - 2
         |      ELSE 0 END AS r
         |  FROM fx),
         |w1 AS (
         |  SELECT *, sum(r) OVER (PARTITION BY doc_id, f ORDER BY i)
         |    AS cum1
         |  FROM rr),
         |w2 AS (
         |  SELECT *, sum(cum1) OVER (PARTITION BY doc_id, f ORDER BY i)
         |    AS cum2
         |  FROM w1),
         |smp AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN f = 0 THEN i ELSE n1 + i END AS pos,
         |    CASE WHEN kind = 0 THEN (doc_id * 11 + f * 17) % 4000 - 2000
         |      WHEN kind = 1
         |        THEN (doc_id * 3 + i * 257 + f * 29) % 4096 - 2048
         |      WHEN kind = 2
         |        THEN (doc_id + f * 31) % 1000 - 500 + cum1
         |      WHEN i = 0 THEN (doc_id + f * 37) % 600 - 300
         |      WHEN i = 1
         |        THEN (doc_id + f * 37) % 600 - 300 + (doc_id + f) % 20 - 10
         |      ELSE (doc_id + f * 37) % 600 - 300 + (doc_id + f) % 20 - 10
         |        + (i - 1) * ((doc_id + f) % 20 - 10) + cum2
         |    END AS v
         |  FROM w2),
         |$oSampleStatsCte,
         |env AS (
         |  SELECT s.doc_id, (65 * s.pos) // t.n AS t, sum(abs(s.v)) AS e
         |  FROM smp s JOIN st t USING (doc_id)
         |  GROUP BY 1, 2),
         |hb AS (
         |  SELECT a.doc_id,
         |    sum(CAST(1 AS HUGEINT) << CAST(a.t AS INT)) AS hraw
         |  FROM env a JOIN env b
         |    ON b.doc_id = a.doc_id AND b.t = a.t + 1
         |  WHERE a.t < 64 AND b.e > a.e
         |  GROUP BY 1)
         |SELECT d.doc_id, d.ok AS parsed,
         |  CASE WHEN d.ok THEN 'flac' END AS codec,
         |  CASE WHEN d.ok THEN CAST(d.rate AS BIGINT) END AS sample_rate,
         |  CASE WHEN d.ok THEN CAST(1 AS BIGINT) END AS channels,
         |  CASE WHEN d.ok THEN st.n END AS n_samples,
         |  CASE WHEN d.ok THEN st.n * 1000 // d.rate END AS duration_ms,
         |  CASE WHEN d.ok THEN st.sum_q END AS sum_q,
         |  CASE WHEN d.ok THEN st.sq_sum END AS sq_sum,
         |  CASE WHEN d.ok THEN st.n_clipped END AS n_clipped,
         |  CASE WHEN d.ok THEN st.lead_silence END AS lead_silence,
         |  CASE WHEN d.ok THEN st.trail_silence END AS trail_silence,
         |  CASE WHEN d.ok THEN
         |    CAST(coalesce(hb.hraw, 0)
         |      - CASE WHEN coalesce(hb.hraw, 0) >= 9223372036854775808
         |          THEN 18446744073709551616 ELSE 0 END AS BIGINT)
         |  END AS ahash
         |FROM d LEFT JOIN st USING (doc_id) LEFT JOIN hb USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // q389: FLAC STEREO DECORRELATION (round 17, closing q388's named
    // exclusion): left/side, right/side, and mid/side channel
    // assignments — the side channel carries one extra bit per sample
    // and every reconstruction is integer-exact, so the decoded
    // output is the ORIGINAL L/R and the oracle replays the target
    // formulas with NO decorrelation model (losslessness IS the
    // contract being graded). Corruption plants: the reserved channel
    // code 11; mid-frame truncation.
    Query("q389_flac_stereo", (s, dir) => {
      val media = payloads(docIds(s, dir), AudioFixtures.flacStereoPayload)
      media
        .select(col("doc_id"),
          graft.functions.pcmStats(col("__p")).as("__s"),
          graft.functions.audioHash(col("__p")).as("ahash"))
        .select(Seq(col("doc_id"), col("__s").isNotNull.as("parsed")) ++
          pcmCols("codec", "sample_rate", "channels") :+ col("ahash"): _*)
        .orderBy("doc_id")
    },
    // FLAC stereo: decorrelation is lossless, so the oracle replays
    // the target L/R formulas directly (interleaved positions), the
    // q381-style stats, and the 65-window envelope hash.
    oracle =
      s"""WITH d AS (
         |  SELECT doc_id, 16000 + (doc_id % 3) * 8000 AS rate,
         |    doc_id % 40 + 40 AS n1, doc_id % 20 + 33 AS n2,
         |    NOT (doc_id % 10 = 3 OR doc_id % 11 = 7) AS ok
         |  FROM documents),
         |fx AS (
         |  SELECT doc_id, f, n1, unnest(range(n)) AS i
         |  FROM (
         |    SELECT doc_id, u.f AS f, n1,
         |      CASE WHEN u.f = 0 THEN n1 ELSE n2 END AS n
         |    FROM d, (SELECT unnest(range(2)) AS f) u
         |    WHERE ok)),
         |smp AS MATERIALIZED (
         |  SELECT doc_id,
         |    2 * (CASE WHEN f = 0 THEN i ELSE n1 + i END) + c AS pos,
         |    CASE WHEN c = 0
         |      THEN (doc_id * 3 + i * 257 + f * 71) % 3000 - 1500
         |      ELSE (doc_id * 5 + i * 193 + f * 101) % 3000 - 1500
         |    END AS v
         |  FROM fx, (SELECT unnest(range(2)) AS c)),
         |$oSampleStatsCte,
         |env AS (
         |  SELECT s.doc_id, (65 * s.pos) // t.n AS t, sum(abs(s.v)) AS e
         |  FROM smp s JOIN st t USING (doc_id)
         |  GROUP BY 1, 2),
         |hb AS (
         |  SELECT a.doc_id,
         |    sum(CAST(1 AS HUGEINT) << CAST(a.t AS INT)) AS hraw
         |  FROM env a JOIN env b
         |    ON b.doc_id = a.doc_id AND b.t = a.t + 1
         |  WHERE a.t < 64 AND b.e > a.e
         |  GROUP BY 1)
         |SELECT d.doc_id, d.ok AS parsed,
         |  CASE WHEN d.ok THEN 'flac' END AS codec,
         |  CASE WHEN d.ok THEN CAST(d.rate AS BIGINT) END AS sample_rate,
         |  CASE WHEN d.ok THEN CAST(2 AS BIGINT) END AS channels,
         |  CASE WHEN d.ok THEN st.n END AS n_samples,
         |  CASE WHEN d.ok THEN (st.n // 2) * 1000 // d.rate
         |    END AS duration_ms,
         |  CASE WHEN d.ok THEN st.sum_q END AS sum_q,
         |  CASE WHEN d.ok THEN st.sq_sum END AS sq_sum,
         |  CASE WHEN d.ok THEN st.n_clipped END AS n_clipped,
         |  CASE WHEN d.ok THEN st.lead_silence END AS lead_silence,
         |  CASE WHEN d.ok THEN st.trail_silence END AS trail_silence,
         |  CASE WHEN d.ok THEN
         |    CAST(coalesce(hb.hraw, 0)
         |      - CASE WHEN coalesce(hb.hraw, 0) >= 9223372036854775808
         |          THEN 18446744073709551616 ELSE 0 END AS BIGINT)
         |  END AS ahash
         |FROM d LEFT JOIN st USING (doc_id) LEFT JOIN hb USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
  )

  /** q347's planted OOV word (shared engine/oracle literal — the q298
    * discipline): ü, ç, ß are 2-byte code points no vocab unit covers,
    * so byte fallback MUST fire on them.
    */
  private val byteFallbackWord: String = "münçhen42ß"

  /** q347's per-byte fallback score — more punitive than q307's UNK
    * (a real model scores byte pieces far below learned units).
    */
  private val viterbiByteScoreQ: Long = -6144L

  /** q345/q346's constructed PCM WAV payload: 44-byte canonical header
    * (PCM tag 1, mono, 16-bit) + n = doc_id%120+40 samples rendered as
    * two's-complement LE hex. Sample formulas (the oracle's contract):
    *   m = doc_id % 3;  rate = (doc_id % 50)·1000 + 8000
    *   m=0 ramp:    s(i) = (i·523 + doc_id·31) % 65536 − 32768
    *   m=1 square:  A = 32767 if doc_id%5==0 (planted clipping) else
    *                doc_id % 30000 + 1000;  s(i) = ±A by (i>>3) % 2
    *   m=2 padded:  z1 = doc_id%10 leading and z2 = (doc_id·3)%10
    *                trailing zeros around a 5000 tone
    * doc_id%10==9 truncates mid-data (44+n of 44+2n bytes) → NULL.
    */
  private def pcmPayload(docId: Column): Column = {
    val m = docId % 3
    val n = docId % 120 + 40
    val rate = (docId % 50) * 1000L + 8000L
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
    val amp = when(docId % 5 === 0, lit(32767L))
      .otherwise(docId % 30000L + 1000L)
    val z1 = docId % 10
    val z2 = (docId * 3) % 10
    def sample(i: Column): Column = {
      val ramp = pmod(i * 523L + docId * 31L, lit(65536L)) - 32768L
      val square = when(pmod(shiftright(i, 3), lit(2L)) === 0, amp)
        .otherwise(-amp)
      val sil = when(i < z1 || i >= n - z2, lit(0L)).otherwise(lit(5000L))
      when(m === 0, ramp).when(m === 1, square).otherwise(sil)
    }
    val dataHex = array_join(
      transform(sequence(lit(0L), n - 1),
        i => le16(pmod(sample(i), lit(65536L)))), "")
    val wav = unhex(concat(
      lit("52494646"), le32(n * 2L + 36L),
      lit("57415645" + "666D7420" + "10000000" + "0100" + "0100"),
      le32(rate), le32(rate * 2L), lit("0200" + "1000" + "64617461"),
      le32(n * 2L), dataHex))
    when(docId % 10 === 9, wav.substr(lit(1), lit(44L) + n))
      .otherwise(wav)
  }

  /** q350's constructed G.711 WAV: canonical 44-byte header (format
    * tag 7 μ-law on even docs / 6 A-law on odd; mono, 8 bits, 8 kHz —
    * the telephony layout) + n = doc_id%90+30 companded code bytes
    * c(i) = (i·37 + doc_id·11) % 256 — 37 is coprime to 256, so the
    * code stream cycles every residue and full-scale rails and silent
    * codes both occur.
    */
  private def g711Payload(docId: Column): Column = {
    val n = docId % 90 + 30
    val tag = when(docId % 2 === 0, lit(7L)).otherwise(lit(6L))
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
    val dataHex = array_join(
      transform(sequence(lit(0L), n - 1),
        i => hxp(pmod(i * 37L + docId * 11L, lit(256L)), 2)), "")
    unhex(concat(
      lit("52494646"), le32(n + 36L),
      lit("57415645" + "666D7420" + "10000000"), le16(tag), lit("0100"),
      le32(lit(8000L)), le32(lit(8000L)),
      lit("0100" + "0800" + "64617461"), le32(n), dataHex))
  }

  /** q355's constructed CBR MP3: n = doc_id%9+3 back-to-back MPEG-1
    * Layer III frames built by hex Column arithmetic (the [[pcmPayload]]
    * discipline). Shared arithmetic (the oracle's contract):
    *   brIdx = doc_id%14 + 1 → kbps via the public Layer III table
    *   srIdx = doc_id%3     → rate ∈ {44100, 48000, 32000}
    *   pad(f) = (doc_id+f) % 2  (frame sizes differ by the pad byte)
    *   frame f size = ⌊144·kbps·1000 / rate⌋ + pad(f)
    *   mono on even docs (mode bits 11), stereo on odd (00)
    * %4==1 prepends an ID3v2 tag (synchsafe size sz = doc_id%50, body
    * zeros) the walk must skip; %10==6 truncates the last 3 bytes →
    * NULL.
    */
  private def mp3Payload(docId: Column): Column = {
    val n = docId % 9 + 3
    val brIdx = docId % 14 + 1
    val srIdx = docId % 3
    val kbps = element_at(typedlit(Seq(32L, 40L, 48L, 56L, 64L, 80L,
      96L, 112L, 128L, 160L, 192L, 224L, 256L, 320L)),
      (brIdx - 1).cast("int") + 1)
    val rate = element_at(typedlit(Seq(44100L, 48000L, 32000L)),
      srIdx.cast("int") + 1)
    // ⌊144·kbps·1000 / rate⌋ — Column `/` is DOUBLE division; floor
    // recovers the exact integer quotient (products ≪ 2^53)
    val fsBase = floor(kbps * 144000L / rate).cast("long")
    def hxp(c: Column, digits: Int) = lpad(hex(c), digits, "0")
    val modeHex = when(docId % 2 === 0, lit("C0")).otherwise(lit("00"))
    def frame(f: Column): Column = {
      val pad = pmod(docId + f, lit(2L))
      val b2 = hxp(brIdx * 16L + srIdx * 4L + pad * 2L, 2)
      val body = array_join(
        transform(sequence(lit(1L), fsBase + pad - 4L), _ => lit("00")),
        "")
      concat(lit("FFFB"), b2, modeHex, body)
    }
    val framesHex = array_join(
      transform(sequence(lit(0L), n - 1), f => frame(f)), "")
    val sz = docId % 50
    val id3Hex = when(docId % 4 === 1,
      concat(lit("494433" + "0400" + "00" + "000000"), hxp(sz, 2),
        array_join(transform(sequence(lit(1L), sz), _ => lit("00")), "")))
      .otherwise(lit(""))
    val full = unhex(concat(id3Hex, framesHex))
    when(docId % 10 === 6, full.substr(lit(1), length(full) - 3))
      .otherwise(full)
  }

  /** q344's constructed TIFF/EXIF payloads (the [[webpBmpPayload]]
    * discipline): doc_id%4 selects II-TIFF / MM-TIFF (BitsPerSample
    * through the value-offset path) / JPEG-with-APP1-Exif / corrupt.
    * Dims reuse q333's arithmetic; orientation = (doc_id>>2)%8+1 so
    * all eight EXIF values appear in EVERY format slice.
    */
  private def tiffExifPayload(docId: Column): Column = {
    val m = docId % 4
    val w = (docId % 991) + 1
    val h = ((docId * 7) % 737) + 1
    val bits = element_at(typedlit(Seq(1L, 2L, 4L, 8L, 16L)),
      (docId % 5).cast("int") + 1)
    val o = shiftright(docId, 2) % 8 + 1
    def hxp(c: Column, digits: Int) = lpad(hex(c), digits, "0")
    def be16(c: Column) = unhex(hxp(c, 4))
    def be32(c: Column) = unhex(hxp(c, 8))
    def le16(c: Column) = {
      val x = hxp(c, 4)
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    def le32(c: Column) = {
      val x = hxp(c, 8)
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    // II ("Intel"): magic + IFD@8 + count 4 + entries (tags ascending:
    // 256 LONG w, 257 LONG h, 258 SHORT bits inline, 274 SHORT orient)
    // + next-IFD 0 = 62 bytes
    def ii(orient: Column) = concat(
      unhex(lit("49492A00" + "08000000" + "0400")),
      le16(lit(256L)), unhex(lit("0400")), le32(lit(1L)), le32(w),
      le16(lit(257L)), unhex(lit("0400")), le32(lit(1L)), le32(h),
      le16(lit(258L)), unhex(lit("0300")), le32(lit(1L)), le16(bits),
      unhex(lit("0000")),
      le16(lit(274L)), unhex(lit("0300")), le32(lit(1L)), le16(orient),
      unhex(lit("0000")),
      unhex(lit("00000000")))
    // MM ("Motorola"): BitsPerSample count=3 → the 4-byte field holds
    // an OFFSET (62) to three SHORTs appended after the IFD = 68 bytes
    val mm = concat(
      unhex(lit("4D4D002A" + "00000008" + "0004")),
      be16(lit(256L)), unhex(lit("0004")), be32(lit(1L)), be32(w),
      be16(lit(257L)), unhex(lit("0004")), be32(lit(1L)), be32(h),
      be16(lit(258L)), unhex(lit("0003")), be32(lit(3L)), be32(lit(62L)),
      be16(lit(274L)), unhex(lit("0003")), be32(lit(1L)), be16(o),
      unhex(lit("0000")),
      unhex(lit("00000000")),
      be16(bits), be16(bits), be16(bits))
    // JPEG: SOI + APP1(len 0x22: "Exif\0\0" + a 26-byte MM TIFF whose
    // IFD0 carries ONLY orientation) + SOF0 + EOI = 59 bytes
    val exifBlock = concat(
      unhex(lit("4D4D002A" + "00000008" + "0001")),
      be16(lit(274L)), unhex(lit("0003")), be32(lit(1L)), be16(o),
      unhex(lit("0000")),
      unhex(lit("00000000")))
    val jpeg = concat(
      unhex(lit("FFD8" + "FFE1" + "0022" + "457869660000")), exifBlock,
      unhex(lit("FFC00011" + "08")), be16(h), be16(w),
      unhex(lit("03011100021101031101" + "FFD9")))
    val corrupt = when(docId % 8 === 3, substring(ii(o), 1, 12))
      .otherwise(ii(lit(9L)))
    when(m === 0, ii(o)).when(m === 1, mm).when(m === 2, jpeg)
      .otherwise(corrupt)
  }

  /** q337's constructed WebP/BMP payloads (the [[mediaPayload]]
    * discipline): doc_id%4 selects VP8L / VP8 / VP8X / BMP, dims reuse
    * q333's width/height arithmetic.
    */
  private def webpBmpPayload(docId: Column): Column = {
    val m = docId % 4
    val w = (docId % 991) + 1
    val h = ((docId * 7) % 737) + 1
    val bmpBpp = element_at(typedlit(Seq(1L, 4L, 8L, 16L, 24L, 32L)),
      (docId % 6).cast("int") + 1)
    def hxp(c: Column, digits: Int) = lpad(hex(c), digits, "0")
    def le16(c: Column) = {
      val x = hxp(c, 4)
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    def le24(c: Column) = {
      val x = hxp(c, 6)
      unhex(concat(substring(x, 5, 2), substring(x, 3, 2),
        substring(x, 1, 2)))
    }
    def le32(c: Column) = {
      val x = hxp(c, 8)
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    // VP8L: RIFF(17) WEBP "VP8L"(5) 2F + bitfield LE32 = 25 bytes
    val vp8lBits = (w - 1) + (h - 1) * 16384L
    val vp8l = concat(unhex(lit("52494646")), le32(lit(17L)),
      unhex(lit("57454250" + "5650384C" + "05000000" + "2F")),
      le32(vp8lBits))
    // VP8 lossy: RIFF(22) WEBP "VP8 "(10) tag(3) 9D012A wLE16 hLE16
    // = 30 bytes (scale bits zero)
    val vp8 = concat(unhex(lit("52494646")), le32(lit(22L)),
      unhex(lit("57454250" + "56503820" + "0A000000" +
        "000000" + "9D012A")),
      le16(w), le16(h))
    // VP8X: RIFF(22) WEBP "VP8X"(10) flags(1) rsv(3) w-1/h-1 LE24
    // = 30 bytes
    val vp8x = concat(unhex(lit("52494646")), le32(lit(22L)),
      unhex(lit("57454250" + "56503858" + "0A000000" + "00" + "000000")),
      le24(w - 1), le24(h - 1))
    // BMP BITMAPINFOHEADER: 14-byte file header + 40-byte DIB = 54
    val bmp = concat(unhex(lit("424D")), le32(lit(54L)),
      unhex(lit("00000000" + "36000000" + "28000000")),
      le32(w), le32(h), unhex(lit("0100")), le16(bmpBpp),
      unhex(lit("00" * 24)))
    when(m === 0, vp8l).when(m === 1, vp8).when(m === 2, vp8x)
      .otherwise(bmp)
  }

  /** q335's planted repeat: 200 tokens outside the corpus vocabulary,
    * shared verbatim by the engine (plan literal) and the oracle
    * (SQL literal) — the q298 shared-artifact discipline.
    */
  private val exactSubstrBlock: String =
    (0 until 200).map(i => s"zq${i}z").mkString(" ")

  /** The documents with [[exactSubstrBlock]] appended to every
    * %10 = 0 doc (q335, q339).
    */
  private def plantedRepeatDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(coalesce(col("text"), lit("")),
          lit(" " + exactSubstrBlock)))
        .otherwise(coalesce(col("text"), lit(""))).as("text"))

  /** q333/q336's constructed media payload for one doc id — spec-true
    * PNG/JPEG/GIF headers from doc_id arithmetic via hex-string
    * construction (BE via lpad(hex); LE via explicit byte-pair swap),
    * with planted corruption on the %4==3 slice (a 12-byte truncation
    * and a bad-magic first byte). Shares NO code with the parsing
    * kernel's byte arithmetic.
    */
  private def mediaPayload(docId: Column): Column = {
    val m = docId % 4
    val w = (docId % 991) + 1
    // height varies independently of width even at small ids (sf0.01
    // doc_ids < 737 would otherwise make w == h and never exercise the
    // aspect gate): the *7 spreads the residues
    val h = ((docId * 7) % 737) + 1
    val pdep = element_at(typedlit(Seq(1L, 2L, 4L, 8L, 16L)),
      (docId % 5).cast("int") + 1)
    val gifPacked = docId % 8 // depth = (packed & 7) + 1
    def hx(c: Column, digits: Int) = lpad(hex(c), digits, "0")
    def be32(c: Column) = unhex(hx(c, 8))
    def be16(c: Column) = unhex(hx(c, 4))
    def le16(c: Column) = {
      val x = hx(c, 4)
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    // signature + IHDR(len=13) + w + h + depth + color/comp/filter/
    // interlace + junk CRC = 33 bytes
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      be32(w), be32(h), unhex(hx(pdep, 2)),
      unhex(lit("06000000DEADBEEF")))
    // SOI + full APP0/JFIF + SOF0(len 17: precision, h, w, 3 comps)
    // + EOI = 41 bytes — the walk must SKIP APP0 by its length
    val jpeg = concat(
      unhex(lit("FFD8FFE000104A46494600010100000100010000FFC0001108")),
      be16(h), be16(w), unhex(lit("03011100021101031101FFD9")))
    // magic + LSD (w LE, h LE, packed, bg, aspect) = 13 bytes
    val gif = concat(unhex(lit("474946383961")), le16(w), le16(h),
      unhex(hx(gifPacked, 2)), unhex(lit("0000")))
    val corrupt = when(docId % 8 === 3, substring(png, 1, 12))
      .otherwise(concat(unhex(lit("00")), substring(png, 2, 28)))
    when(m === 0, png).when(m === 1, jpeg)
      .when(m === 2, gif).otherwise(corrupt)
  }

  /** The q345/q346 shared sample-replay CTEs: d (per-doc parameters),
    * st (per-doc integer statistics over the replayed samples).
    */
  private def oPcmCtes: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 3 AS m, doc_id % 120 + 40 AS n,
      |    (doc_id % 50) * 1000 + 8000 AS rate,
      |    doc_id % 10 = 9 AS corrupt
      |  FROM documents),
      |sm AS (
      |  SELECT doc_id, n, i,
      |    CASE WHEN m = 0 THEN (i * 523 + doc_id * 31) % 65536 - 32768
      |      WHEN m = 1 THEN CASE WHEN (i // 8) % 2 = 0 THEN a ELSE -a END
      |      ELSE CASE WHEN i < doc_id % 10 OR i >= n - (doc_id * 3) % 10
      |        THEN 0 ELSE 5000 END END AS v
      |  FROM (
      |    SELECT doc_id, m, n,
      |      CASE WHEN doc_id % 5 = 0 THEN 32767
      |        ELSE doc_id % 30000 + 1000 END AS a,
      |      unnest(range(n)) AS i
      |    FROM d WHERE NOT corrupt)),
      |st AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    CAST(sum(v) AS BIGINT) AS sum_q,
      |    CAST(sum(v * v) AS BIGINT) AS sq_sum,
      |    CAST(count(CASE WHEN v = 32767 OR v = -32768 THEN 1 END)
      |      AS BIGINT) AS n_clipped,
      |    CAST(coalesce(min(CASE WHEN abs(v) > 256 THEN i END), max(i) + 1)
      |      AS BIGINT) AS lead_silence,
      |    CAST(coalesce(max(i) - max(CASE WHEN abs(v) > 256 THEN i END),
      |      max(i) + 1) AS BIGINT) AS trail_silence
      |  FROM sm GROUP BY 1)""".stripMargin

  /** q329: the training oracle's merge stages (s0 restricted to the
    * doc_id%3=0 training slice) feed an APPLY chain a0..aN over the
    * FULL corpus's distinct words — each a-stage replays exactly one
    * merge rank with the same greedy left-to-right list_reduce rewrite
    * the training stages use (rank-sequential application, equivalent
    * to the engine kernel's min-rank loop on the well-formed trained
    * list — see graft.expressions.BpeEncodeKernel).
    *
    * Precondition (shared with the q92/q301 oracles, whose unrolled
    * stages assume the same): the training slice yields the full
    * `numMerges` merges — an early-exhausted b-stage would CROSS JOIN
    * every later stage empty. The gate corpus trains 8+ comfortably;
    * trainMerges-side exhaustion on a different fixture would surface
    * as a loud row-count mismatch, not a silent wrong answer.
    */
  /** q334: the q329 oracle chain over BYTE-level symbols of regex
    * pretokens. The byte→unicode table rides as a 256-string list
    * literal generated from the SAME Scala table the engine uses (the
    * q298 shared-artifact discipline — the table is the public GPT-2
    * algorithm's output, embedded verbatim on both sides); byte values
    * come from hex-pair arithmetic (strpos over '0-9A-F'), the
    * pretokenizer regex is the engine's RE2-safe literal, and the
    * merge stages are the identical rank-sequential list_reduce
    * rewrites.
    */
  private def oByteBpeEncodeSql(numMerges: Int): String =
    oByteBpeCtes(numMerges) +
      s"""
         |SELECT w, CAST(len(syms) AS BIGINT) AS n_tokens,
         |  array_to_string(syms, ' ') AS seg
         |FROM a$numMerges ORDER BY w""".stripMargin

  /** The q334 chain through the applied stage aN, reusable by count-
    * style tails (q338): WITH ... aN AS (...) — no trailing comma.
    */
  /** The byte-level pretokenizer regex as a DuckDB string literal
    * (a def, NOT a val — the oracleSql val initializes before
    * later-declared vals in object init order, which would read null).
    */
  private def oByteReLit: String = "'" +
    graft.operators.Bpe.byteLevelPretokenRegex.replace("'", "''") + "'"

  private def oByteBpeCtes(numMerges: Int): String = {
    val tblLit = graft.operators.Bpe.byteLevelTable
      .map(s => "'" + s.replace("'", "''") + "'").mkString("[", ", ", "]")
    val reLit = oByteReLit
    def syms(w: String): String =
      s"""list_transform(range(1, length(hex(encode($w))) // 2 + 1),
         |    i -> tbl[(strpos('0123456789ABCDEF',
         |                     hex(encode($w))[2*i-1:2*i-1]) - 1) * 16
         |             + strpos('0123456789ABCDEF',
         |                      hex(encode($w))[2*i:2*i])])""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH bl(tbl) AS (SELECT $tblLit),
              |w0 AS (
              |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
              |  FROM (SELECT unnest(regexp_extract_all(coalesce(text, ''),
              |                $reLit)) AS w
              |        FROM documents WHERE doc_id % 3 = 0)
              |  GROUP BY w),
              |s0 AS (SELECT w, cnt, ${syms("w")} AS syms
              |       FROM w0 CROSS JOIN bl),
              |""".stripMargin
    for (s <- 1 to numMerges) {
      sb ++= s"""p$s AS (
                |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(cnt) AS BIGINT) AS freq
                |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                |          i -> [syms[i], syms[i+1]])) AS pr
                |        FROM s${s - 1})
                |  GROUP BY 1, 2),
                |b$s AS (SELECT l, r, freq FROM p$s ORDER BY freq DESC, l, r LIMIT 1),
                |s$s AS (
                |  SELECT w, cnt, list_reduce(list_transform(syms, x -> [x]),
                |    (acc, e) -> CASE WHEN acc[-1] = b.l AND e[1] = b.r
                |                     THEN list_append(acc[1:len(acc)-1], b.l || b.r)
                |                     ELSE list_append(acc, e[1]) END) AS syms
                |  FROM s${s - 1} CROSS JOIN b$s b),
                |""".stripMargin
    }
    sb ++= s"""aw AS (
              |  SELECT DISTINCT unnest(regexp_extract_all(coalesce(text, ''),
              |    $reLit)) AS w
              |  FROM documents),
              |a0 AS (SELECT w, ${syms("w")} AS syms
              |       FROM aw CROSS JOIN bl),
              |""".stripMargin
    for (s <- 1 to numMerges) {
      sb ++= s"""a$s AS (
                |  SELECT w, list_reduce(list_transform(syms, x -> [x]),
                |    (acc, e) -> CASE WHEN acc[-1] = b.l AND e[1] = b.r
                |                     THEN list_append(acc[1:len(acc)-1], b.l || b.r)
                |                     ELSE list_append(acc, e[1]) END) AS syms
                |  FROM a${s - 1} CROSS JOIN b$s b),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop the last CTE's trailing ",\n"
    sb.result()
  }

  /** q307: the per-END-position candidate table (same slices as
    * [[oMaxMatchJoinedSql]]'s cand, joined to the scored vocab), then
    * the exact DP replayed by a recursive CTE whose state is the
    * growing best[] list — bests[i] = best over prefixes of length
    * i−1 as {'s','nt','nu'}, maximized by (score, fewest tokens,
    * fewest unks) via an explicit comparator fold. Folds are
    * per-position candidate lists (≤ maxLen+1 elements), far under the
    * list_reduce batch-dependence range.
    */
  /** q347: [[oViterbiSql]]'s recursive DP with the UNK transition
    * replaced by BYTE FALLBACK — the fallback step at end position e
    * consumes one code point as strlen-many byte tokens at `byteQ`
    * each — over the planted-OOV corpus. strlen counts BYTES and
    * substr counts CODE POINTS on DuckDB, exactly mirroring the
    * engine's octet_length-per-position table.
    */
  private def oViterbiByteFallbackSql(vocab: Seq[(String, Long)],
                                      byteQ: Long, plantMod: Long,
                                      plantWord: String): String = {
    val vlist = vocab.map { case (u, sc) => s"{'u': '$u', 'sc': $sc}" }
      .mkString("[", ",", "]")
    val maxLen = vocab.map(_._1.length).max
    s"""WITH RECURSIVE
       |pdocs AS (
       |  SELECT doc_id, CASE WHEN doc_id % $plantMod = 0
       |    THEN coalesce(text, '') || ' $plantWord'
       |    ELSE coalesce(text, '') END AS text
       |  FROM documents),
       |vocab AS (SELECT x.u AS u, CAST(x.sc AS BIGINT) AS sc
       |          FROM (SELECT unnest($vlist) AS x)),
       |dwords AS (SELECT DISTINCT unnest($oToks) AS w FROM pdocs),
       |cand AS (
       |  SELECT w, u.pos AS pos, u.k AS k FROM (
       |    SELECT w, unnest(flatten(list_transform(range(1, length(w) + 1),
       |      p -> list_transform(range(1, least($maxLen, length(w) - p + 1) + 1),
       |        k -> {'pos': p, 'k': k})))) AS u
       |    FROM dwords)),
       |m AS (
       |  SELECT c.w, c.pos, c.k, v.sc
       |  FROM cand c JOIN vocab v ON v.u = substr(c.w, c.pos, c.k)),
       |ends AS (
       |  SELECT w, pos + k - 1 AS e,
       |         list({'k': k, 'sc': sc}) AS cands
       |  FROM m GROUP BY 1, 2),
       |walk(w, e, bests) AS (
       |  SELECT w, 0, [{'s': CAST(0 AS BIGINT), 'nt': CAST(0 AS BIGINT),
       |                 'nu': CAST(0 AS BIGINT)}]
       |  FROM dwords
       |  UNION ALL
       |  SELECT walk.w, walk.e + 1,
       |    list_append(walk.bests, list_reduce(
       |      list_prepend(
       |        {'s': walk.bests[walk.e + 1].s +
       |           strlen(substr(walk.w, walk.e + 1, 1)) * ($byteQ),
       |         'nt': walk.bests[walk.e + 1].nt +
       |           strlen(substr(walk.w, walk.e + 1, 1)),
       |         'nu': walk.bests[walk.e + 1].nu +
       |           strlen(substr(walk.w, walk.e + 1, 1))},
       |        list_transform(coalesce(en.cands,
       |            CAST([] AS STRUCT(k BIGINT, sc BIGINT)[])), c ->
       |          {'s': walk.bests[walk.e + 2 - c.k].s + c.sc,
       |           'nt': walk.bests[walk.e + 2 - c.k].nt + 1,
       |           'nu': walk.bests[walk.e + 2 - c.k].nu})),
       |      (a, b) -> CASE WHEN b.s > a.s OR (b.s = a.s AND
       |        (b.nt < a.nt OR (b.nt = a.nt AND b.nu < a.nu)))
       |        THEN b ELSE a END))
       |  FROM walk LEFT JOIN ends en
       |    ON en.w = walk.w AND en.e = walk.e + 1
       |  WHERE walk.e < length(walk.w)),
       |seg AS (SELECT w, bests[length(w) + 1] AS b
       |        FROM walk WHERE e = length(w)),
       |tok AS (SELECT doc_id, unnest($oToks) AS w FROM pdocs),
       |agg AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(s.b.nt) AS BIGINT) AS n_tokens,
       |         CAST(sum(s.b.nu) AS BIGINT) AS n_byte_tokens,
       |         CAST(sum(s.b.s) AS BIGINT) AS viterbi_score_q
       |  FROM tok t JOIN seg s USING (w) GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(a.n_byte_tokens, 0) AS BIGINT)
       |         AS n_byte_tokens,
       |       CAST(COALESCE(a.viterbi_score_q, 0) AS BIGINT)
       |         AS viterbi_score_q
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** `st`: the per-doc integer sample statistics (count `n`, sums,
    * clipping, edge silence) over decoded samples `smp(doc_id, pos, v)`
    * — the ADPCM and FLAC replays (q381, q386–q389).
    */
  private val oSampleStatsCte: String =
    """st AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS BIGINT) AS sum_q,
      |    CAST(sum(v * v) AS BIGINT) AS sq_sum,
      |    CAST(count(CASE WHEN v = 32767 OR v = -32768 THEN 1 END)
      |      AS BIGINT) AS n_clipped,
      |    CAST(coalesce(min(CASE WHEN abs(v) > 256 THEN pos END),
      |      count(*)) AS BIGINT) AS lead_silence,
      |    CAST(coalesce(max(pos) - max(CASE WHEN abs(v) > 256 THEN pos
      |      END), count(*)) AS BIGINT) AS trail_silence
      |  FROM smp GROUP BY 1)""".stripMargin

  /** The q343/q349 near-dup image CTEs: `d` (odd docs re-render their even
    * predecessor with a one-pixel origin edit), `lum`, the dHash CTEs and
    * `sig(doc_id, dhash)`.
    */
  private def oNearDupSigCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id - (doc_id % 2) AS pid,
       |    doc_id % 2 = 1 AS edited,
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
       |    FROM d)),
       |${oDhashCtes(Seq("doc_id"), "k")},
       |sig AS (
       |  SELECT d.doc_id,
       |    ${oSignedHash("dh.hraw", "dhash")}
       |  FROM d LEFT JOIN (
       |    SELECT doc_id,
       |      sum(CAST(1 AS HUGEINT) << CAST(k AS INT)) AS hraw
       |    FROM bits GROUP BY 1) dh USING (doc_id))""".stripMargin

  /** The q359 tar layout CTEs over `d(doc_id, s)`: `mem` (s BMP/txt member
    * pairs with their sizes) and `off` (each member's data offset: 512-byte
    * headers plus the 512-padded sizes before it).
    * Kept in margin form (no stripMargin): the caller strips it with
    * its own margin, so the `||` continuation lines are stripped once.
    */
  private def oTarMemberCtes: String =
    """mem AS (
      |  SELECT doc_id, u.j AS j, u.name AS name, u.size AS size
      |  FROM (
      |    SELECT doc_id, unnest(flatten(list_transform(range(s),
      |      k -> [
      |        {'j': 2 * k,
      |         'name': CAST(doc_id AS VARCHAR) || '_'
      |           || CAST(k AS VARCHAR) || '.bmp',
      |         'size': 54 + (((4 * doc_id + k) * 5) % 24 + 8)
      |           * (((3 * ((4 * doc_id + k) % 24 + 9) + 3) // 4) * 4)},
      |        {'j': 2 * k + 1,
      |         'name': CAST(doc_id AS VARCHAR) || '_'
      |           || CAST(k AS VARCHAR) || '.txt',
      |         'size': 2 * ((doc_id + k) % 7 + 1) - 1}]))) AS u
      |    FROM d)),
      |off AS (
      |  SELECT doc_id, j, name, size,
      |    512 * (j + 1) + coalesce(sum((size + 511) // 512 * 512)
      |      OVER (PARTITION BY doc_id ORDER BY j
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS off
      |  FROM mem)"""

  /** The pixel report over `d(doc_id, v, w, h)` and `lum`: dHash `sig`,
    * luminance sums, and one row per doc with `format` and the
    * `channels` expression over `d.v`; the %10 = 7 truncation slice
    * parses to all-NULL stats (q372, q376, q377, q379).
    */
  private def oPixelReportTail(format: String, channels: String): String =
    s"""${oDhashCtes(Seq("doc_id"), "kk")},
       |${oSigCte("dhash", "kk")},
       |agg AS (
       |  SELECT doc_id, CAST(sum(lum) AS BIGINT) AS lum_sum,
       |    CAST(sum(lum * lum) AS BIGINT) AS lum_sq_sum
       |  FROM lum GROUP BY 1)
       |SELECT d.doc_id, d.doc_id % 10 <> 7 AS parsed,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN '$format' END AS format,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN CAST(d.w AS BIGINT) END
       |    AS width,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN CAST(d.h AS BIGINT) END
       |    AS height,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN
       |    CAST($channels AS BIGINT)
       |    END AS channels,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN CAST(d.w * d.h AS BIGINT)
       |    END AS n_pixels,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN a.lum_sum END AS lum_sum,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN a.lum_sq_sum END
       |    AS lum_sq_sum,
       |  CASE WHEN d.doc_id % 10 <> 7 THEN s.dhash END AS dhash
       |FROM d JOIN agg a USING (doc_id) JOIN sig s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The q335/q339 ExactSubstr CTEs: `d` (the %10 = 0 docs carry the
    * planted block), `tk`, every 10-gram `gg` with its position, the grams
    * seen twice `rep`, and `ds`, the positions of repeated grams.
    */
  private def oRepeatedGramCtes: String =
    s"""d AS (
       |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
       |    THEN coalesce(text, '') || ' $exactSubstrBlock'
       |    ELSE coalesce(text, '') END AS xt
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, ${oToks.replace("text", "xt")} AS tk FROM d),
       |gg AS (
       |  SELECT doc_id, pg['p'] AS pos, pg['gr'] AS gr
       |  FROM (SELECT doc_id, unnest(list_transform(
       |          range(1, len(tk) - 8),
       |          i -> {'p': i, 'gr': array_to_string(tk[i:i+9], ' ')}))
       |          AS pg
       |        FROM tk)),
       |rep AS (
       |  SELECT gr FROM (SELECT gr, count(*) AS c FROM gg GROUP BY 1)
       |  WHERE c >= 2),
       |ds AS (SELECT doc_id, pos FROM gg JOIN rep USING (gr))""".stripMargin

  /** The pixelStats struct `__s` as flat columns, in report order. */
  private def pixelCols(dhash: Boolean): Seq[Column] =
    statCols(Seq("format", "width", "height", "channels", "n_pixels",
      "lum_sum", "lum_sq_sum") ++ (if (dhash) Seq("dhash") else Nil))

  /** The pcmStats struct `__s` as flat columns: the codec fields `head`,
    * then the sample statistics every audio query reports.
    */
  private def pcmCols(head: String*): Seq[Column] =
    statCols(head ++ Seq("n_samples", "duration_ms", "sum_q", "sq_sum",
      "n_clipped", "lead_silence", "trail_silence"))

  private def statCols(fields: Seq[String]): Seq[Column] =
    fields.map(f => col(s"__s.$f").as(f))
}
