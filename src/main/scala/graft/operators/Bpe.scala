package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE merge training — learn the byte-pair-encoding merge list from the
  * corpus itself (the tokenizer-training step of an LLM data pipeline;
  * [[TextAnalysis.subwordCount]] counts with a fixed BPE-ish regex, this
  * learns the data-driven merge table a real tokenizer is built from).
  *
  * Scale shape — the standard production trick, made explicit: the
  * corpus is touched ONCE (a word-frequency aggregate); every training
  * iteration then runs on the DISTINCT-WORD table weighted by counts —
  * vocabulary-bounded (tens of millions of rows for a web corpus), not
  * corpus-bounded (trillions of tokens). Per merge step: one pair-count
  * aggregate (map-side combinable; adjacent pairs explode from each
  * word's own symbol array), one driver-side argmax row (the chosen
  * pair IS the model — driver-small by construction), one map-only
  * symbol-array rewrite. Each step's word table is cached and the
  * previous unpersisted, so lineage stays flat across iterations.
  *
  * Determinism: ties on pair frequency break by (left, right) binary
  * string order; the merge REWRITE is a greedy left-to-right fold
  * (replace-last-accumulator-element form) — both reproduced verbatim
  * by the DuckDB oracle's unrolled CTE stages, so the learned merge
  * list is cross-engine exact. Divergence from canonical BPE: no
  * end-of-word marker symbol (merges never span words either way), and
  * characters are code points, not bytes — documented, not load-bearing
  * for the merge-learning shape.
  */
object Bpe {

  /** The learned merge list: `numMerges` rounds of
    * most-frequent-adjacent-pair, greedily applied between rounds.
    * Stops early if no pair remains (all words fused to one symbol).
    *
    * @return (step INT 1.., lhs, rhs, freq) — freq is the pair's
    *         occurrence-weighted frequency at selection time.
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainState(docs, textCol, numMerges)._1
      .toDF("step", "lhs", "rhs", "freq")
  }

  /** The learned SUBWORD VOCABULARY: train `numMerges` rounds, then
    * count every symbol of the final segmentation weighted by word
    * frequency — the (subword, corpus frequency) table a tokenizer
    * ships with. Same vocabulary-bounded cost as [[trainMerges]] plus
    * one symbol-explode aggregate over the final word table.
    *
    * @return (subword, freq) — freq is occurrence-weighted.
    */
  def subwordVocab(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val words = trainState(docs, textCol, numMerges)._2
    words.select(col("cnt"), explode(col("syms")).as("subword"))
      .groupBy("subword").agg(sum(col("cnt")).as("freq"))
  }

  /** Per-document token counts under the learned tokenizer — THE budget
    * metric context-window packing runs on (whitespace/regex token
    * counts only approximate it). Train `numMerges` rounds, then join
    * each document's words to the final segmentation's per-word symbol
    * count: one explode + one shuffle join on the word key + one
    * map-side-combinable per-doc sum. The word table is
    * vocabulary-bounded, so at scale the join broadcasts or
    * bucket-co-locates; the corpus is touched twice total (training's
    * frequency pass + this tokenize pass), never per merge round.
    *
    * @return (idCol, n_words, n_bpe_tokens) — documents with no tokens
    *         keep zero counts.
    */
  def bpeTokenCount(docs: DataFrame, idCol: String, textCol: String,
                    numMerges: Int): DataFrame = {
    val words = trainState(docs, textCol, numMerges)._2
    val docWords = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val stats = docWords
      .join(words.select(col("w"), size(col("syms")).cast("long").as("__nt")), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__nt")).as("n_bpe_tokens"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Greedy longest-match ("MaxMatch" — WordPiece-inference style)
    * segmentation statistics under a FIXED subword vocabulary: at each
    * position take the longest vocab unit that matches, else consume
    * one character as UNK — the APPLY side of the tokenizer lifecycle
    * ([[trainMerges]] learns units; serving tokenizes with a frozen
    * vocab, and its token counts are what context-window budgeting
    * actually pays).
    *
    * Scale shape (the [[bpeTokenCount]] discipline): the corpus is
    * touched once for (doc, word) rows; segmentation runs on the
    * DISTINCT-WORD table only — vocabulary-bounded, map-only, no
    * shuffle beyond the final per-doc sum. The vocab rides the plan as
    * an array literal (the PQ-codebook/blocklist precedent), so the
    * matcher costs |word|·maxTokenLen literal probes per distinct word
    * — no join, no broadcast round-trip.
    *
    * Determinism: the fold is position-integer arithmetic only (no
    * floats), longest candidate wins, all lengths guarded to the word
    * boundary — the DuckDB oracle replays the identical fold via
    * list_reduce, so every count hash-gates bit-for-bit.
    *
    * @param vocab non-empty subword units (driver literal, bounded —
    *              hundreds; for production-size vocabs use
    *              [[maxMatchTokenCountJoined]], the broadcast
    *              prefix-table form with identical semantics)
    * @return (idCol, n_words, n_tokens, n_unk_chars) — n_tokens counts
    *         UNK single-char emissions too; docs with no words keep
    *         zeros.
    */
  def maxMatchTokenCount(docs: DataFrame, idCol: String, textCol: String,
                         vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty && vocab.forall(_.nonEmpty), "bad vocab")
    val docWords = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val seg = docWords.select("w").distinct()
      .withColumn("__L", length(col("w")))
      .withColumn("__st", segFold(col("w"), col("__L"), vocab))
      .select(col("w"), col("__st.ntok").as("__nt"),
        col("__st.nunk").as("__nu"))
    val stats = docWords.join(seg, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__nt")).as("n_tokens"),
        sum(col("__nu")).as("n_unk_chars"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_unk_chars"), lit(0L)).as("n_unk_chars"))
  }

  /** [[maxMatchTokenCount]] at PRODUCTION vocab size — the broadcast
    * prefix-table form its scaladoc names: the vocab arrives as a
    * DataFrame (the artifact a tokenizer ships — 32k–256k units, far
    * past the literal-array form's hundreds-of-units bound), candidate
    * slices of each distinct word equi-join against it, and the greedy
    * walk then runs on each word's precomputed per-position
    * longest-match table. Semantics are IDENTICAL to the literal path
    * (BpeSpec pins them equal on shared vocabs, including fuzz corpora).
    *
    * Scale shape: segmentation stays DISTINCT-WORD bounded. Per distinct
    * word of length L the plan emits ≤ L·maxTokenLen candidate rows
    * (pos, k, slice) — the shingle-explode discipline — and probes each
    * against the vocab with ONE broadcast hash-join lookup instead of an
    * O(|vocab|) literal scan, so the per-word constant is flat in vocab
    * size. The matched rows collapse back to one row per word (one
    * shuffle keyed by word, fan-in bounded by L·maxTokenLen), where a
    * dense per-position best-length array drives the same integer fold
    * as [[maxMatchTokenCount]]. A 256k-unit vocab broadcasts at ~a few
    * MB; nothing else grows with vocab size.
    *
    * Determinism: longest-wins is `max(k)` per (word, pos) — the same
    * decision the literal form's maxLen..1 coalesce makes; the walk is
    * position-integer arithmetic, replayed step-for-step by the DuckDB
    * oracle's recursive CTE (q298).
    *
    * @param vocab   one row per subword unit; non-empty, no NULL/empty
    *                units (checked with one bounded aggregate)
    * @param unitCol the unit column's name in `vocab`
    * @return (idCol, n_words, n_tokens, n_unk_chars) — same contract as
    *         [[maxMatchTokenCount]]
    */
  def maxMatchTokenCountJoined(docs: DataFrame, idCol: String,
                               textCol: String, vocab: DataFrame,
                               unitCol: String): DataFrame = {
    val units = vocab.select(col(unitCol).as("__u")).distinct()
    // one bounded agg reads the vocab artifact's shape (the PQ-codebook
    // collect discipline): maxTokenLen bounds the candidate explode.
    val shape = units.agg(count(lit(1)).as("n"),
      min(length(col("__u"))).as("mn"),
      max(length(col("__u"))).as("mx")).head()
    require(shape.getLong(0) > 0L, "empty vocab")
    require(!shape.isNullAt(1) && shape.getInt(1) >= 1,
      "vocab has NULL or empty units")
    val maxLen = shape.getInt(2)

    val docWords = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val words = docWords.select("w").distinct()
      .withColumn("__L", length(col("w")))
    val cand = words.select(col("w"), col("__L"), explode(flatten(
        transform(sequence(lit(1), col("__L")), p =>
          transform(sequence(lit(1), least(lit(maxLen), col("__L") - p + 1)),
            k => struct(p.as("pos"), k.as("k")))))).as("__pk"))
      .select(col("w"), col("__pk.pos").as("__pos"), col("__pk.k").as("__k"))
      .withColumn("__sub", col("w").substr(col("__pos"), col("__k")))
    val matched = cand.join(broadcast(units), col("__sub") === col("__u"))
      .select(col("w"), col("__pos"), col("__k"))
    // dense per-position longest-match array, then the segFold walk on
    // it: element_at(bls, pos) replaces the literal-vocab coalesce.
    val seg = matched.groupBy("w")
      .agg(collect_list(struct(col("__pos"), col("__k"))).as("__ms"))
      .join(words, Seq("w"))
      .withColumn("__bls", transform(sequence(lit(1), col("__L")), p =>
        coalesce(array_max(transform(
          filter(col("__ms"), m => m.getField("__pos") === p),
          m => m.getField("__k"))), lit(0))))
      .withColumn("__st", aggregate(sequence(lit(1), col("__L")),
        struct(lit(1).as("pos"), lit(0L).as("ntok"), lit(0L).as("nunk")),
        (st, _) => {
          val pos = st.getField("pos")
          val bl = element_at(col("__bls"), pos)
          when(pos > col("__L"), st).otherwise(
            when(bl > 0,
              struct((pos + bl).as("pos"),
                (st.getField("ntok") + 1L).as("ntok"),
                st.getField("nunk").as("nunk")))
              .otherwise(
                struct((pos + 1).as("pos"),
                  (st.getField("ntok") + 1L).as("ntok"),
                  (st.getField("nunk") + 1L).as("nunk"))))
        }))
      .select(col("w"), col("__st.ntok").as("__nt"),
        col("__st.nunk").as("__nu"))
    // a word NO unit matches anywhere is absent from `matched`: every
    // position UNKs, so it contributes (L tokens, L unk chars)
    val segAll = words.join(seg, Seq("w"), "left")
      .select(col("w"),
        coalesce(col("__nt"), col("__L").cast("long")).as("__nt"),
        coalesce(col("__nu"), col("__L").cast("long")).as("__nu"))
    val stats = docWords.join(segAll, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__nt")).as("n_tokens"),
        sum(col("__nu")).as("n_unk_chars"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_unk_chars"), lit(0L)).as("n_unk_chars"))
  }

  /** The MaxMatch position fold over one word: state struct
    * (pos, ntok, nunk), longest vocab candidate first, UNK advances one
    * char. `len` must be a PRE-BOUND length column (a materialized
    * column or a zipped struct field), never `length(w)` inline — an
    * inline length() re-counts the word's chars on every candidate
    * probe of every iteration (the SCALE.md HOF trap).
    */
  private def segFold(w: Column, len: Column,
                      vocab: Seq[String]): Column = {
    val maxLen = vocab.map(_.length).max
    val vlit = typedlit(vocab)
    aggregate(sequence(lit(1), len),
      struct(lit(1).as("pos"), lit(0L).as("ntok"), lit(0L).as("nunk")),
      (st, _) => {
        val pos = st.getField("pos")
        val matched = coalesce((maxLen to 1 by -1).map { k =>
          when(pos + lit(k - 1) <= len &&
            array_contains(vlit, w.substr(pos, lit(k))), lit(k))
        }: _*)
        when(pos > len, st).otherwise(
          when(matched.isNotNull,
            struct((pos + matched).as("pos"),
              (st.getField("ntok") + 1L).as("ntok"),
              st.getField("nunk").as("nunk")))
            .otherwise(
              struct((pos + 1).as("pos"),
                (st.getField("ntok") + 1L).as("ntok"),
                (st.getField("nunk") + 1L).as("nunk"))))
      })
  }

  /** VITERBI (unigram-LM) segmentation under a FROZEN integer score
    * table — the SentencePiece-inference twin of
    * [[maxMatchTokenCountJoined]] (Kudo 2018, "Subword Regularization":
    * inference picks the GLOBALLY best-scoring segmentation of each
    * word, where greedy MaxMatch commits left-to-right and can be
    * beaten by deferring a split). The vocab artifact carries one
    * integer score per unit (a fixed-point log-probability in a real
    * unigram LM — scores are the CALLER's artifact, this operator only
    * requires them integer so the DP is exact); unknown characters
    * advance one position at `unkScoreQ` each, so every word has at
    * least one segmentation and the DP is total.
    *
    * DP contract (deterministic, oracle-replayable): best[0] = (0
    * score, 0 tokens, 0 unks); best[e] = max over {units of length k
    * ending at e: best[e−k] + (score_u, +1 tok)} ∪ {best[e−1] +
    * (unkScoreQ, +1 tok, +1 unk)}, maximizing by (score, then FEWEST
    * tokens, then fewest unks) — encoded as array_max over structs
    * (score, −ntok, −nunk), the same lexicographic trick as the BT/
    * argmax family. Integer sums only; no floats anywhere.
    *
    * Scale shape: identical to the joined MaxMatch — DISTINCT-WORD
    * bounded, ≤ L·maxTokenLen candidate rows per word, one broadcast
    * vocab hash-join, one shuffle keyed by word, then a row-local
    * O(L²·density) fold over a per-END-position candidate table.
    * Nothing grows with vocab size except the broadcast.
    *
    * @param vocab    one row per unit with its integer score
    * @param unkScoreQ score charged per unknown character (typically
    *                  strongly negative — the OOV penalty)
    * @return (idCol, n_words, n_tokens, n_unk_chars, viterbi_score_q)
    *         — counts along the OPTIMAL path; empty docs keep zeros
    */
  def viterbiTokenCount(docs: DataFrame, idCol: String, textCol: String,
                        vocab: DataFrame, unitCol: String,
                        scoreCol: String, unkScoreQ: Long): DataFrame =
    viterbi(docs, idCol, textCol, vocab, unitCol, scoreCol, "n_unk_chars",
      identity, _ => (lit(1L), lit(unkScoreQ)),
      (col("__L").cast("long"), col("__L") * unkScoreQ))

  /** [[viterbiTokenCount]] with SentencePiece BYTE FALLBACK (Kudo &
    * Richardson 2018 §4.1 / the `byte_fallback` flag every production
    * unigram model ships with): a character no unit covers does NOT
    * become one UNK — it becomes its UTF-8 BYTE pieces (`<0xXX>`),
    * each charged `byteScoreQ`, so the vocabulary is CLOSED and no
    * token is ever UNK. The DP's fallback transition at end position e
    * therefore costs (nb·byteScoreQ, +nb tokens, +nb byte-tokens)
    * where nb = UTF-8 byte length of the character ending at e —
    * per-position byte lengths are materialized once per distinct word
    * (octet_length of each code point) and read by the fold.
    *
    * Same lexicographic optimum (score, fewest tokens, fewest
    * byte-tokens), same DISTINCT-WORD scale shape as
    * [[viterbiTokenCount]].
    *
    * @return (idCol, n_words, n_tokens, n_byte_tokens, viterbi_score_q)
    */
  def viterbiTokenCountByteFallback(docs: DataFrame, idCol: String,
                                    textCol: String, vocab: DataFrame,
                                    unitCol: String, scoreCol: String,
                                    byteScoreQ: Long): DataFrame = {
    val bytes = octet_length(col("w")).cast("long")
    viterbi(docs, idCol, textCol, vocab, unitCol, scoreCol, "n_byte_tokens",
      // UTF-8 byte length of the character ending at each position —
      // bound once, read per DP step
      _.withColumn("__bl", transform(sequence(lit(1), col("__L")),
        e => octet_length(col("w").substr(e, lit(1))).cast("long"))),
      e => {
        val nb = element_at(col("__bl"), e)
        (nb, nb * byteScoreQ)
      },
      (bytes, bytes * byteScoreQ))
  }

  /** The shared Viterbi DP of [[viterbiTokenCount]] and
    * [[viterbiTokenCountByteFallback]]; they differ only in how a
    * character no unit covers is charged. `fallback(e)` gives the
    * (tokens, score) of that transition at end position e, reading any
    * per-word column `wordCols` adds; `allFallback` gives the same
    * totals for a word no unit matches anywhere; `fallbackCol` names
    * the output count of fallback tokens.
    */
  private def viterbi(docs: DataFrame, idCol: String, textCol: String,
                      vocab: DataFrame, unitCol: String, scoreCol: String,
                      fallbackCol: String,
                      wordCols: DataFrame => DataFrame,
                      fallback: Column => (Column, Column),
                      allFallback: (Column, Column)): DataFrame = {
    val units = vocab.select(col(unitCol).as("__u"),
      col(scoreCol).cast("long").as("__sc"))
    val shape = units.agg(count(lit(1)).as("n"),
      min(length(col("__u"))).as("mn"), max(length(col("__u"))).as("mx"),
      count(when(col("__sc").isNull, 1)).as("nullsc")).head()
    require(shape.getLong(0) > 0L, "empty vocab")
    require(!shape.isNullAt(1) && shape.getInt(1) >= 1,
      "vocab has NULL or empty units")
    require(shape.getLong(3) == 0L, "vocab has NULL scores")
    val maxLen = shape.getInt(2)

    val docWords = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val words = wordCols(docWords.select("w").distinct()
      .withColumn("__L", length(col("w"))))
    val cand = words.select(col("w"), col("__L"), explode(flatten(
        transform(sequence(lit(1), col("__L")), p =>
          transform(sequence(lit(1), least(lit(maxLen), col("__L") - p + 1)),
            k => struct(p.as("pos"), k.as("k")))))).as("__pk"))
      .select(col("w"), col("__pk.pos").as("__pos"), col("__pk.k").as("__k"))
      .withColumn("__sub", col("w").substr(col("__pos"), col("__k")))
    val matched = cand.join(broadcast(units), col("__sub") === col("__u"))
      .select(col("w"), col("__pos"), col("__k"), col("__sc"))
    // per-END-position candidate table, then the DP fold: acc is the
    // growing best[0..e] array (negated tie fields — array_max then
    // reads max score, min tokens, min unks)
    val seg = matched.groupBy("w")
      .agg(collect_list(struct(col("__pos"), col("__k"), col("__sc")))
        .as("__ms"))
      .join(words, Seq("w"))
      .withColumn("__ends", transform(sequence(lit(1), col("__L")), e =>
        filter(col("__ms"),
          m => m.getField("__pos") + m.getField("__k") - 1 === e)))
      .withColumn("__best", element_at(
        aggregate(sequence(lit(1), col("__L")),
          array(struct(lit(0L).as("s"), lit(0L).as("nnt"),
            lit(0L).as("nnu"))),
          (acc, e) => {
            val prev = element_at(acc, e) // best[e-1]
            val (nf, sf) = fallback(e)
            val fallC = struct(
              (prev.getField("s") + sf).as("s"),
              (prev.getField("nnt") - nf).as("nnt"),
              (prev.getField("nnu") - nf).as("nnu"))
            val unitCs = transform(element_at(col("__ends"), e), m => {
              val pe = element_at(acc, e - m.getField("__k") + 1)
              struct((pe.getField("s") + m.getField("__sc")).as("s"),
                (pe.getField("nnt") - 1L).as("nnt"),
                pe.getField("nnu").as("nnu"))
            })
            concat(acc, array(array_max(concat(array(fallC), unitCs))))
          }),
        -1))
      .select(col("w"), (-col("__best.nnt")).as("__nt"),
        (-col("__best.nnu")).as("__nu"), col("__best.s").as("__s"))
    // a word NO unit matches anywhere is absent from `matched`: its
    // only path is all-fallback
    val (allN, allS) = allFallback
    val segAll = words.join(seg, Seq("w"), "left")
      .select(col("w"), coalesce(col("__nt"), allN).as("__nt"),
        coalesce(col("__nu"), allN).as("__nu"),
        coalesce(col("__s"), allS).as("__s"))
    val stats = docWords.join(segAll, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__nt")).as("n_tokens"),
        sum(col("__nu")).as(fallbackCol),
        sum(col("__s")).as("viterbi_score_q"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col(fallbackCol), lit(0L)).as(fallbackCol),
        coalesce(col("viterbi_score_q"), lit(0L)).as("viterbi_score_q"))
  }

  /** TRUE BPE inference under a FROZEN merge list — merge-RANK order
    * (the Hugging-Face `tokenizers` BPE apply semantics; Sennrich 2016
    * §3.2), per DISTINCT word: fuse the lowest-rank pair present,
    * greedy left-to-right replace-all per pass, until no listed pair
    * remains. This is the apply semantics a real pipeline ships with a
    * trained merge list, and it segments DIFFERENTLY from greedy
    * longest-match over the same unit vocabulary (merges [(b,c),(a,b)]
    * on "abc": rank order → [a, bc]; MaxMatch → [ab, c] — BpeSpec pins
    * the disagreement), which is why [[maxMatchTokenCountJoined]] alone
    * does not cover the BPE lifecycle.
    *
    * The merge table is collected ordered by step — a tokenizer model
    * is a driver-bounded artifact (the PQ-codebook/centroid collect
    * discipline) — and rides the plan as reference objects inside the
    * native [[graft.expressions.BpeEncode]] kernel: per-word cost is
    * O(L²) hash probes, FLAT in merge-list size (the rank-sequential
    * scan would pay O(|merges|·L) — wrong shape at a 32k-merge
    * production model). Segmentation runs once per DISTINCT word —
    * vocabulary-bounded, map-only; the per-word segmentation string is
    * space-joined (whitespace tokens contain no spaces, so the join is
    * unambiguous).
    *
    * Determinism: rank is the artifact's step order; within a rank the
    * rewrite is the same greedy left-to-right fold as training's — the
    * DuckDB oracle replays the merges one rank at a time with the
    * identical list_reduce stages (equivalent to the min-rank loop on
    * any well-formed merge list; see
    * [[graft.expressions.BpeEncodeKernel]]).
    *
    * @param merges frozen merge table: one row per merge with an
    *               integer rank column (1..N from [[trainMerges]]) and
    *               lhs/rhs unit columns
    * @return one row per distinct word: (w, n_tokens, seg)
    */
  def bpeRankSegment(docs: DataFrame, textCol: String, merges: DataFrame,
                     stepCol: String, lhsCol: String, rhsCol: String)
      : DataFrame = {
    val ms = collectMerges(merges, stepCol, lhsCol, rhsCol)
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .distinct()
      .withColumn("__enc", graft.functions.bpeEncode(
        split(col("w"), ""), ms.map(_._1), ms.map(_._2)))
      .select(col("w"), size(col("__enc")).cast("long").as("n_tokens"),
        array_join(col("__enc"), " ").as("seg"))
  }

  /** Per-document token counts under a FROZEN merge list — the
    * [[bpeTokenCount]] contract with the model split out (train on one
    * corpus, budget another — the DSIR frozen-apply discipline). Same
    * plan shape: distinct-word-bounded segmentation, one join keyed by
    * word, one per-doc map-side-combinable sum.
    *
    * @return (idCol, n_words, n_bpe_tokens) — docs with no tokens keep
    *         zeros.
    */
  def bpeRankTokenCount(docs: DataFrame, idCol: String, textCol: String,
                        merges: DataFrame, stepCol: String, lhsCol: String,
                        rhsCol: String): DataFrame = {
    val ms = collectMerges(merges, stepCol, lhsCol, rhsCol)
    val docWords = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
    val seg = docWords.select("w").distinct()
      .withColumn("__nt", size(graft.functions.bpeEncode(
        split(col("w"), ""), ms.map(_._1), ms.map(_._2))).cast("long"))
    val stats = docWords.join(seg, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__nt")).as("n_bpe_tokens"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** The rank-SEQUENTIAL executable spec of [[bpeRankSegment]]'s kernel:
    * apply each merge once in rank order with the same greedy
    * left-to-right replace-all fold the training rewrite uses — equal
    * to the kernel's min-rank loop on any well-formed merge list
    * (BpeSpec pins the equality on trained merges; the simHashHof /
    * maxNgramRepeatSpec executable-spec discipline). Unrolls one HOF
    * fold per merge, so it is test machinery, not the scale path.
    */
  def bpeEncodeSeqSpec(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (acc, (l, r)) =>
      aggregate(acc, typedlit(Seq.empty[String]),
        (a, s) =>
          when(get(a, size(a) - 1) === lit(l) && s === lit(r),
            concat(slice(a, lit(1), size(a) - 1), array(lit(l + r))))
            .otherwise(concat(a, array(s))))
    }

  /** Collect a frozen merge table ordered by rank (driver-bounded
    * artifact). NULL or empty units are rejected; duplicate steps keep
    * their (step, lhs, rhs) sort order so the list is deterministic.
    *
    * WELL-FORMEDNESS is validated, not assumed (ADVICE r12): the
    * kernel's min-rank loop equals the rank-sequential oracle spec only
    * on lists where every unit is derivable — each lhs/rhs is a single
    * code point or the output of an EARLIER merge — and no two merges
    * produce the same output unit. [[trainMerges]] satisfies both by
    * construction; a hand-built table that violates either would
    * silently diverge from the documented semantics, so it errors
    * loudly here instead.
    */
  private def collectMerges(merges: DataFrame, stepCol: String,
                            lhsCol: String, rhsCol: String)
      : Array[(String, String)] = {
    val rows = merges
      .select(col(stepCol).cast("int").as("__s"),
        col(lhsCol).cast("string").as("__l"),
        col(rhsCol).cast("string").as("__r"))
      .orderBy(col("__s"), col("__l"), col("__r"))
      .collect()
    require(rows.nonEmpty, "empty merge list")
    val derived = scala.collection.mutable.HashSet.empty[String]
    def atomic(s: String): Boolean = s.codePointCount(0, s.length) == 1
    rows.map { r =>
      // a NULL step (or a non-numeric one the int cast nulled) would
      // silently sort FIRST and take the lowest rank — reject loudly,
      // like the unit checks below
      require(!r.isNullAt(0), "merge list has NULL (or non-integer) steps")
      require(!r.isNullAt(1) && !r.isNullAt(2) &&
        r.getString(1).nonEmpty && r.getString(2).nonEmpty,
        "merge list has NULL or empty units")
      val l = r.getString(1)
      val rr = r.getString(2)
      require(atomic(l) || derived.contains(l),
        s"ill-formed merge list: lhs '$l' is neither a single code " +
          "point nor the output of an earlier merge")
      require(atomic(rr) || derived.contains(rr),
        s"ill-formed merge list: rhs '$rr' is neither a single code " +
          "point nor the output of an earlier merge")
      require(derived.add(l + rr),
        s"ill-formed merge list: duplicate merge output '${l + rr}'")
      (l, rr)
    }
  }

  /** ROW-LOCAL MaxMatch counts — the streaming-safe variant: a pure
    * projection returning struct(n_words, n_tokens, n_unk_chars) for
    * one text value, no distinct-word table, no shuffle — composable
    * into a stateless stream (the winnow/curation-chain discipline).
    * Prefer [[maxMatchTokenCount]] for batch corpora: it pays the
    * segmentation once per DISTINCT word; this pays it per occurrence.
    */
  def maxMatchCounts(text: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty && vocab.forall(_.nonEmpty), "bad vocab")
    val toks = transform(TextAnalysis.tokens(text),
      w => struct(w.as("w"), length(w).as("len")))
    aggregate(toks,
      struct(lit(0L).as("n_words"), lit(0L).as("n_tokens"),
        lit(0L).as("n_unk_chars")),
      (acc, t) => {
        val st = segFold(t.getField("w"), t.getField("len"), vocab)
        struct((acc.getField("n_words") + 1L).as("n_words"),
          (acc.getField("n_tokens") + st.getField("ntok")).as("n_tokens"),
          (acc.getField("n_unk_chars") + st.getField("nunk"))
            .as("n_unk_chars"))
      })
  }

  // ------------------------------------------------------------------
  // BYTE-LEVEL pretokenization (round 13) — the GPT-2 `ByteLevel` step
  // (Radford et al. 2019; HF `tokenizers` ByteLevel pretokenizer):
  // production GPT-style pipelines regex-split text into pretokens
  // (leading space ATTACHED to the following word — the signature
  // byte-level property), re-express each pretoken as a sequence of
  // BYTE symbols through the fixed 256-entry byte→unicode table, and
  // only then run BPE. Shipping char-level merges (q329) against a
  // byte-level runtime is the first integration bug a user hits —
  // these operators close that gap.

  /** The GPT-2 byte→unicode table: printable bytes ('!'..'~',
    * '¡'..'¬', '®'..'ÿ') map to themselves as code points; every other
    * byte b maps to code point 256+n in byte order (so 0x20 space →
    * U+0120 'Ġ', 0x0A newline → U+010A). A bijection — every mapped
    * symbol is ONE code point, none is an ASCII space, so
    * space-joined segmentations stay unambiguous and the mapping
    * inverts exactly.
    */
  private[graft] val byteLevelTable: IndexedSeq[String] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (keep(b)) new String(Character.toChars(b))
      else { val cp = 256 + n; n += 1; new String(Character.toChars(cp)) }
    }
  }

  /** The RE2-SAFE form of the GPT-2 pretokenizer regex — identical
    * alternatives (contractions; optional-space letters; optional-space
    * digits; optional-space punctuation runs; whitespace runs) with the
    * original's `\s+(?!\S)` lookahead branch DROPPED (RE2 — the
    * DuckDB oracle's engine — has no lookahead). Documented divergence:
    * interior multi-space runs stay ONE whitespace token instead of
    * donating their last space to the next word ("a␣␣b" → ["a", "␣␣",
    * "b"] here vs GPT-2's ["a", "␣", "␣b"]); single spaces — all of
    * real prose — attach to the following word identically. \s is
    * spelled as the explicit [ \t\n\f\r] class (the chrF Java-vs-RE2
    * divergence lesson). Digits use GPT-2's `\p{N}` verbatim (the
    * Unicode number category — Java and RE2 both support it), so
    * non-ASCII digits (Arabic-Indic, fullwidth) tokenize under the
    * digit branch exactly as GPT-2 does.
    */
  private[graft] val byteLevelPretokenRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"

  /** Byte-level pretokens of a text column (array<string>) — the regex
    * split above; NULL text → empty array.
    */
  def byteLevelPretokens(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")),
      lit(byteLevelPretokenRegex), lit(0))

  /** A pretoken's BYTE-symbol sequence: UTF-8 bytes via one hex
    * round-trip (Spark has no binary indexing; hex pairs + conv is the
    * codegen-friendly byte extractor), each byte mapped through the
    * 256-entry table literal. The hex string is bound once per word
    * (the HOF discipline), then each element is one substr + conv +
    * array probe. Runs on the DISTINCT-pretoken table only.
    */
  def byteLevelSyms(w: Column): Column = {
    val tbl = typedlit(byteLevelTable)
    element_at(transform(array(hex(encode(w, "UTF-8"))), hx =>
      transform(sequence(lit(1), (length(hx) / 2).cast("int")), i =>
        element_at(tbl,
          conv(hx.substr(i * 2 - 1, lit(2)), 16, 10).cast("int") + 1))), 1)
  }

  /** [[trainMerges]] over BYTE-level symbols of regex pretokens — the
    * training side of the GPT-2 lifecycle. Same vocabulary-bounded
    * iteration shape; the distinct-word table is keyed by PRETOKEN
    * (space-prefixed words are distinct entries, exactly as shipped
    * tokenizers store them).
    */
  def trainMergesByteLevel(docs: DataFrame, textCol: String,
                           numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainState(docs, textCol, numMerges,
      byteLevelPretokens, byteLevelSyms)._1
      .toDF("step", "lhs", "rhs", "freq")
  }

  /** [[bpeRankSegment]] over BYTE-level symbols of regex pretokens —
    * the apply side: distinct pretokens, byte symbols, the same native
    * min-rank [[graft.expressions.BpeEncode]] kernel (flat in
    * merge-list size). Mapped symbols contain no ASCII space, so the
    * space-joined `seg` is losslessly invertible through the byte
    * table.
    *
    * @return one row per distinct pretoken: (w, n_tokens, seg)
    */
  def bpeRankSegmentByteLevel(docs: DataFrame, textCol: String,
                              merges: DataFrame, stepCol: String,
                              lhsCol: String, rhsCol: String): DataFrame = {
    val ms = collectMerges(merges, stepCol, lhsCol, rhsCol)
    docs.select(explode(byteLevelPretokens(col(textCol))).as("w"))
      .distinct()
      .withColumn("__enc", graft.functions.bpeEncode(
        byteLevelSyms(col("w")), ms.map(_._1), ms.map(_._2)))
      .select(col("w"), size(col("__enc")).cast("long").as("n_tokens"),
        array_join(col("__enc"), " ").as("seg"))
  }

  /** Per-document BYTE-LEVEL token counts under a frozen merge list —
    * the budget metric for GPT-style context packing ([[bpeRankTokenCount]]
    * at byte level): distinct-PRETOKEN segmentation through the native
    * kernel, one join keyed by pretoken, one map-side-combinable
    * per-doc sum.
    *
    * @return (idCol, n_pretokens, n_bpe_tokens) — docs with no
    *         pretokens keep zeros.
    */
  def bpeRankTokenCountByteLevel(docs: DataFrame, idCol: String,
                                 textCol: String, merges: DataFrame,
                                 stepCol: String, lhsCol: String,
                                 rhsCol: String): DataFrame = {
    val ms = collectMerges(merges, stepCol, lhsCol, rhsCol)
    val docWords = docs.select(col(idCol),
      explode(byteLevelPretokens(col(textCol))).as("w"))
    val seg = docWords.select("w").distinct()
      .withColumn("__nt", size(graft.functions.bpeEncode(
        byteLevelSyms(col("w")), ms.map(_._1), ms.map(_._2))).cast("long"))
    val stats = docWords.join(seg, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(col("__nt")).as("n_bpe_tokens"))
    docs.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pretokens"), lit(0L)).as("n_pretokens"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** ROW-LOCAL byte-level frozen-merge token counts — the streaming-
    * safe twin of [[bpeRankTokenCountByteLevel]] (the maxMatchCounts
    * discipline): a pure projection returning struct(n_pretokens,
    * n_bpe_tokens) for one text value — no distinct-pretoken table, no
    * shuffle — so it composes into a stateless append-mode stream.
    * Pays the encode per OCCURRENCE; prefer the operator for batch.
    */
  def byteLevelCounts(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.nonEmpty, "empty merge list")
    val enc = transform(byteLevelPretokens(text), w =>
      size(graft.functions.bpeEncode(byteLevelSyms(w),
        merges.map(_._1), merges.map(_._2))).cast("long"))
    element_at(transform(array(enc), e =>
      struct(size(e).cast("long").as("n_pretokens"),
        coalesce(aggregate(e, lit(0L), (a, x) => a + x), lit(0L))
          .as("n_bpe_tokens"))), 1)
  }

  /** The frozen merge table of [[trainMergesByteLevel]] collected as
    * the (lhs, rhs) rank list — the driver-bounded artifact
    * [[byteLevelCounts]] takes (exposed so streaming callers reuse the
    * validated collect path).
    */
  def collectMergeList(merges: DataFrame, stepCol: String, lhsCol: String,
                       rhsCol: String): Seq[(String, String)] =
    collectMerges(merges, stepCol, lhsCol, rhsCol).toSeq

  /** Training loop core: (merge list, final cached word table
    * (w, cnt, syms)). `wordsOf`/`symsOf` select the tokenization level:
    * whitespace words over code-point symbols (default — the q92/q329
    * lineage) or regex pretokens over byte symbols (the byte-level
    * lifecycle).
    */
  private def trainState(docs: DataFrame, textCol: String,
                         numMerges: Int,
                         wordsOf: Column => Column =
                           c => TextAnalysis.tokens(c),
                         symsOf: Column => Column =
                           w => split(w, ""))
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    require(numMerges >= 1, "need numMerges >= 1")
    var words = CacheScope.track(
      docs.select(explode(wordsOf(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), col("cnt"), symsOf(col("w")).as("syms")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    // the parent of `words` stays cached until the NEXT argmax action has
    // materialized `words` itself (the pair aggregate consumes it) — no
    // extra count() job per iteration just to swap caches
    var grandparent: Option[DataFrame] = None
    while (step <= numMerges && !exhausted) {
      val pairs = words
        .select(col("cnt"), explode(
          zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("freq"))
      val best = pairs.orderBy(desc("freq"), col("l"), col("r")).limit(1).collect()
      grandparent.foreach(_.unpersist(blocking = false)) // words is now cached
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, f) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, f))
        // greedy left-to-right merge: if the accumulator's LAST symbol is
        // l and the incoming symbol is r, fuse them (replace-last form —
        // non-overlapping by construction; get() returns NULL on the
        // empty accumulator, so the first symbol always appends).
        grandparent = Some(words)
        words = CacheScope.track(words.select(col("w"), col("cnt"),
          aggregate(col("syms"), typedlit(Seq.empty[String]),
            (acc, s) =>
              when(get(acc, size(acc) - 1) === lit(l) && s === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
                .otherwise(concat(acc, array(s)))).as("syms")))
        step += 1
      }
    }
    (merges.result(), words)
  }
}
