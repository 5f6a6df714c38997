package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting.
  *
  * Everything is built from codegen'd Catalyst expressions (no UDFs), so the
  * whole module runs inside whole-stage codegen and distributes trivially —
  * each operator is a narrow per-row projection, no shuffle, which is the
  * shape you want over 100 TB of documents.
  *
  * Hashes use a PORTABLE polynomial fold (not xxhash64/murmur) so the
  * driver's DuckDB oracle can reproduce them bit-for-bit; see
  * [[polyHash]].
  */
object TextAnalysis {

  val HashMod = 1000000007L

  /** 28 bits: wide enough that random doc pairs rarely collide within
    * small Hamming distance (16 bits over a small vocabulary put ~12% of
    * all pairs within distance 2, blowing up the candidate join), while
    * staying under the ~30 bits of entropy one polyHash provides and
    * splitting evenly into 4 bands of 7 for the banded pair join.
    */
  val SimHashBits = 28

  /** Character array of a string with empty slots removed. Spark's
    * `split(c, "")` keeps a trailing empty string (Pattern.split with
    * limit -1), which DuckDB's char split does not — filtering empties
    * makes the two engines agree.
    */
  private def chars(c: Column): Column =
    filter(split(c, ""), ch => length(ch) > 0)

  /** Portable rolling/polynomial string hash:
    * fold (acc * 31 + codepoint) % mod over the characters.
    * Unlike xxhash64/murmur3 this is reproducible in any SQL engine with
    * higher-order list functions, which is what makes fingerprint/simhash
    * operators oracle-checkable. Computed by a compiled kernel
    * (expressions/PolyHashNative) — this hash runs per row over every
    * byte under fingerprints, KMV sketches, and table checksums, so the
    * interpreted per-character lambda walk ([[polyHashHof]], kept as the
    * executable spec) is exactly the wrong place to spend 100 TB.
    */
  def polyHash(c: Column, mod: Long = HashMod): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.PolyHashNative(toExpression(c), mod))
  }

  /** Reference HOF formulation of [[polyHash]] — kept (and tested) as
    * the executable specification the native kernel must match, and as
    * the documentation of how any engine with higher-order list
    * functions reproduces the hash.
    */
  private[graft] def polyHashHof(c: Column, mod: Long = HashMod,
                                 mult: Long = 31L, seed: Long = 0L): Column =
    aggregate(
      transform(chars(c), ch => ascii(ch).cast(LongType)),
      lit(seed),
      (acc, x) => (acc * mult + x) % mod)

  /** Canonical text for dedup/fingerprinting — the normalization pass a
    * crawl corpus needs BEFORE any hash sees it: NFC composition, then
    * whitespace-run collapse to one space (explicit class
    * `[ \t\n\r\f\x0B]` — NOT `\s`, whose membership differs between
    * regex engines: Java counts VT, RE2 does not), then removal of the
    * remaining control/format characters (zero-widths, ZWJ, BOM — the
    * invisible bytes that split exact-dup groups), then trim. Pure
    * NFC + built-in regexp/trim composition: whole-stage codegen'd,
    * reproducible in any engine with RE2-compatible classes (the q141
    * oracle runs the same three steps in DuckDB).
    *
    * Deliberately does NOT lowercase: case is meaning-bearing for
    * quality signals (q26's ALL-CAPS ratio) and lowercase tables are
    * the one Unicode area where engines disagree (locale-sensitive
    * mappings); case-fold downstream if a use case wants it.
    */
  def canonicalize(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.nfc(c), "[ \\t\\n\\r\\f\\x0B]+", " "),
      "[\\p{Cc}\\p{Cf}]", ""))

  /** Whitespace tokens (shared with dedup so shingles and counts agree). */
  def tokens(text: Column): Column = graft.functions.tokens(text)

  /** Sentence count: non-blank fragments between [.!?] runs — the crude
    * segmentation every readability formula is defined over.
    */
  def sentenceCount(text: Column): Column =
    size(filter(split(text, "[.!?]+"), s => length(trim(s)) > 0)).cast(LongType)

  /** Syllable proxy: vowel-group runs, the standard heuristic. Both
    * cases are in the class rather than lowercasing first — lowercase
    * tables are engine-divergent for exotic code points (U+0130), and a
    * divergent lowercase could manufacture a vowel.
    */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[aeiouyAEIOUY]+"), lit(0))).cast(LongType)

  /** Flesch–Kincaid grade level per document — the length-and-density
    * readability screen (a standard quality signal next to q26's
    * ratios): 0.39·(words/sentence) + 11.8·(syllables/word) − 15.59,
    * NULL when the text has no sentences or no words. Pure projection
    * (three counts + fixed-order double arithmetic over exact integer
    * operands) — scan-speed, codegen'd, bit-reproducible cross-engine.
    *
    * @return (idCol, n_sentences, n_words, n_syllables, fk_grade)
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    docs.select(col(idCol),
      sentenceCount(text).as("n_sentences"),
      tokenCount(text).as("n_words"),
      syllableCount(text).as("n_syllables"))
      .withColumn("fk_grade",
        when(col("n_sentences") > 0 && col("n_words") > 0,
          lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double")) +
            lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double")) -
            lit(15.59)))
  }

  /** Compiled token count (expressions/TokenCountNative): same value as
    * size(tokens(text)) — the kernel scans the same explicit whitespace
    * class — without materializing the token array per row.
    */
  def tokenCount(text: Column): Column = graft.functions.tokenCountNative(text)

  /** BPE-ish subword segmentation count: runs of letters, runs of digits,
    * or single other non-space chars — the standard pre-tokenizer regex
    * shape; a cheap proxy for LLM token counts at corpus scale.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\f\\r]"), lit(0)))
      .cast(LongType)

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "for")

  /** Fraction of tokens that are (English) stopwords; NULL for empty text.
    * The token array is bound once (`transform(array(…), tk -> …)`) so
    * the three uses cost one tokenization, not three — the
    * [[graft.functions.shingles]] binding discipline.
    */
  def stopwordRatio(text: Column): Column = {
    val sw = array(EnStopwords.map(lit): _*)
    element_at(
      transform(array(tokens(text)), tk =>
        when(size(tk) > 0,
          size(filter(tk, t => array_contains(sw, t))).cast(DoubleType) /
            size(tk))),
      1)
  }

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-zA-Z0-9 \\t\\n\\f\\r]"), lit(0))).cast(LongType)

  /** Composite quality score in [0,1]: length saturation, token-count
    * saturation, and non-punctuation ratio, averaged. All-rational
    * arithmetic (no irrational ops) so it is exactly reproducible.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 500.0, lit(1.0))
    val wordScore = least(size(tokens(text)).cast(DoubleType) / 100.0, lit(1.0))
    val punctRatio = punctCount(text).cast(DoubleType) /
      greatest(length(text).cast(DoubleType), lit(1.0))
    (lenScore + wordScore + (lit(1.0) - punctRatio)) / 3.0
  }

  /** Stopword lists for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "que", "una", "por"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans"))

  /** Marker-token hit count for one language. Kept (and tested) as the
    * executable specification of one [[markerCounts]] slot; the hot path
    * uses the compiled kernel, which tokenizes once for ALL languages.
    */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val m = array(markers.map(lit): _*)
    size(filter(tokens(text), t => array_contains(m, t))).cast(LongType)
  }

  /** Per-language marker hit counts (array, [[LangMarkers]] order) in one
    * compiled tokenize pass — expressions/MarkerCounts. The HOF
    * composition it replaces re-tokenized the text once per language
    * through interpreted lambdas (~7× slower end-to-end on the lang-id
    * benchmark, same pattern as the SimHash/NgramHashSet kernels).
    */
  def markerCounts(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.MarkerCounts(toExpression(text), LangMarkers.map(_._2)))
  }

  /** Heuristic language ID: argmax of marker hits with fixed priority
    * order on ties, "und" (undetermined) when nothing matches. The
    * repeated `markerCounts` subtrees collapse to one evaluation under
    * whole-stage codegen's subexpression elimination.
    */
  def langId(text: Column): Column = {
    val counts = markerCounts(text)
    val scores = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(counts, i + 1)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lang).otherwise(acc)
    }
  }

  /** Reference HOF formulation of [[langId]] — the executable spec the
    * compiled kernel must match (asserted in OperatorsSpec).
    */
  def langIdHof(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> langScore(text, ms) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lang).otherwise(acc)
    }
  }

  /** Newline-split lines of a document. Both engines keep trailing empty
    * segments for a literal separator split, so counts agree exactly.
    */
  def docLines(text: Column): Column = split(text, "\n")

  /** Duplicate-line count (lines minus distinct lines) — the classic
    * repeated-boilerplate signal in web-corpus quality filtering.
    */
  def dupLineCount(text: Column): Column =
    (size(docLines(text)) - size(array_distinct(docLines(text)))).cast(LongType)

  /** Highest occurrence count of any single word n-gram within the
    * document — the "most repeated n-gram" numerator of Gopher-style
    * repetition filters. Computed per row (sort the doc's gram hashes,
    * take the longest equal-neighbor run) so the operator stays a narrow
    * projection: no explode, no shuffle — at 100 TB the repetition filter
    * runs at scan speed like the other quality metrics. Grams travel as
    * compiled 64-bit hashes and the run scan is a codegen kernel
    * ([[graft.expressions.MaxEqualRunLongs]]) — the interpreted
    * string-shingle fold it replaces ([[maxNgramRepeatSpec]], kept as
    * the executable spec) was the q84 gate's dominant cost (7.5s → ~1s
    * at sf0.1). Equal to the spec up to gram-hash collisions (~2^-64,
    * the caveat every hashed-shingle operator shares).
    */
  def maxNgramRepeat(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.MaxEqualRunLongs(
      toExpression(array_sort(graft.functions.ngramHashSeq(text, n)))))
  }

  /** Executable spec for [[maxNgramRepeat]]: the direct string-shingle
    * struct-fold. Interpreted lambdas per element — test/oracle tier
    * only.
    */
  def maxNgramRepeatSpec(text: Column, n: Int): Column = {
    val sorted = array_sort(graft.functions.shingles(tokens(text), n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    val folded = aggregate(sorted, init, (acc, x) => {
      val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
        .otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        greatest(acc.getField("best"), run).as("best"))
    })
    folded.getField("best")
  }

  /** PII-ish pattern counts. The patterns stay inside the regex subset
    * where Java (Spark) and RE2 (DuckDB/production scanners) provably
    * agree — explicit character classes and bounded/greedy quantifiers,
    * no alternation ambiguity, no backrefs — so counts are
    * oracle-checkable and portable to any enforcement engine.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val LongDigitPattern = "[0-9]{9,}"

  private def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast(LongType)

  def emailCount(text: Column): Column = patternCount(text, EmailPattern)
  def ipv4Count(text: Column): Column = patternCount(text, Ipv4Pattern)
  def longDigitCount(text: Column): Column = patternCount(text, LongDigitPattern)

  /** PII redaction — the ENFORCEMENT half of the q43 scan: each match
    * of the same three portable patterns is replaced with a typed
    * placeholder, emails first (an address may contain digit runs the
    * later passes would otherwise shred mid-token), then IPv4 (octets
    * are 1–3 digits, so the digit-run pass can't touch a dotted quad
    * anyway), then long digit runs. Placeholders contain no digits or
    * '@', so a pass can never manufacture a match for a later one, and
    * the scan counts over the redacted text are zero by construction
    * (the q101 gate asserts exactly that). Pure projection — scales
    * like a scan; same Java↔RE2-agreeing regex subset as the counts,
    * so any SQL engine reproduces the rewritten text byte-for-byte.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
        lit(Ipv4Pattern), lit("<IP>")),
      lit(LongDigitPattern), lit("<DIGITS>"))

  /** Document fingerprint: portable rolling hash of the whole text. */
  def fingerprint(text: Column): Column = polyHash(text)

  /** C4/Gopher-style composite filter verdict: one map-only pass emitting
    * a reasons BITMASK (0 ⇒ keep) so a pipeline can both filter AND
    * report per-reason drop rates from the same scan —
    *   bit 1  too short          (n_tokens < minTokens)
    *   bit 2  low quality score  (quality < minQuality)
    *   bit 4  duplicate lines    (n_dup_lines · dupDen > n_lines · dupNum)
    *   bit 8  n-gram repetition  (top_bigram · repDen > n_bigrams · repNum)
    *   bit 16 PII-heavy          (emails + long digit runs > maxPii)
    * Ratio thresholds are RATIONAL (num/den integer cross-multiplication,
    * like the exact-quantile operators) so the gate never compares
    * computed doubles against decimal literals; the quality threshold
    * compares against [[qualityScore]], which is bit-identical
    * cross-engine (q26), so that comparison is portable too.
    *
    * Every metric is a narrow projection over the row's own text — the
    * gate runs at scan speed, nothing shuffles.
    *
    * @param keepInputCols true ⇒ retain every input column alongside
    *        (reasons, keep), so a pipeline filters in the SAME pass —
    *        gating by joining the verdict back to the source re-runs
    *        the whole metric set through a self-join (measured ~1s
    *        slower on the q84 chain's gate stage at sf0.1, and at 100 TB
    *        it doubles the most expensive scan of the pipeline).
    * @return (idCol, reasons, keep) — or all input columns + (reasons,
    *         keep) with `keepInputCols`.
    */
  def qualityGate(docs: DataFrame, idCol: String, textCol: String,
                  minTokens: Long = 10, minQuality: Double = 0.5,
                  dupNum: Int = 1, dupDen: Int = 5,
                  repNum: Int = 1, repDen: Int = 5,
                  maxPii: Long = 3, keepInputCols: Boolean = false): DataFrame = {
    val text = col(textCol)
    val scored = docs
      .withColumn("__nt", tokenCount(text))
      .withColumn("__q", qualityScore(text))
      .withColumn("__nl", size(docLines(text)).cast(LongType))
      .withColumn("__dl", dupLineCount(text))
      .withColumn("__nb", greatest(col("__nt") - 1, lit(0L)))
      .withColumn("__top", maxNgramRepeat(text, 2))
      .withColumn("__pii", emailCount(text) + longDigitCount(text))
      .withColumn("reasons",
        when(col("__nt") < minTokens, 1L).otherwise(0L) +
          when(col("__q") < minQuality, 2L).otherwise(0L) +
          when(col("__dl") * dupDen > col("__nl") * dupNum, 4L).otherwise(0L) +
          when(col("__top") * repDen > col("__nb") * repNum, 8L).otherwise(0L) +
          when(col("__pii") > maxPii, 16L).otherwise(0L))
      .withColumn("keep", col("reasons") === 0L)
      .drop("__nt", "__q", "__nl", "__dl", "__nb", "__top", "__pii")
    if (keepInputCols) scored
    else scored.select(col(idCol), col("reasons"), col("keep"))
  }

  /** SimHash over whitespace tokens, [[SimHashBits]] bits: per-token
    * portable hash → per-bit ±1 votes → sign. Near-duplicate documents
    * differ in few tokens, so their simhashes sit within a small Hamming
    * distance — banding the bits (see Dedup.simhashPairs) finds candidate
    * pairs with zero cartesian products.
    *
    * Computed by a native compiled kernel (expressions/SimHashNative)
    * that reproduces the portable arithmetic exactly — the HOF
    * composition it replaces ([[simHashHof]]) walks interpreted nested
    * lambdas per token.
    */
  def simHash(text: Column): Column = simHashWith(text, 31L)

  /** [[simHash]] generalized over the token-hash multiplier and fold
    * seed: different (multiplier, seed) pairs give (effectively)
    * independent simhashes over the same tokens — the building block of
    * [[simHashWide]].
    */
  def simHashWith(text: Column, mult: Long, seed: Long = 0L): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.SimHashNative(toExpression(text), SimHashBits, mult, seed))
  }

  /** Second multiplier for the wide signature — like 31, a small prime. */
  val WideMult = 37L

  /** Fold seed of the wide signature's second family. Nonzero and
    * load-bearing: with both folds seeded 0, every SINGLE-CHARACTER
    * token hashes identically in both families ((0·31+cp)%p ==
    * (0·37+cp)%p), so 1-char-token-heavy text (CJK split by char,
    * code, tables) correlates the two 28-bit halves and their band
    * buckets stop spreading. Seeding family B at 1 makes its first fold
    * (37+cp)%p ≠ cp — the families decorrelate on every token length.
    * Recall is untouched either way (the banding pigeonhole needs no
    * independence); this is about candidate-bucket PRECISION at scale.
    */
  val WideSeed = 1L

  /** 2×[[SimHashBits]]-bit (56-bit) simhash: two independent portable
    * simhashes concatenated (multiplier 31 seeded 0, and [[WideMult]]
    * seeded [[WideSeed]]; each bit's vote comes from an independent
    * per-token hash bit, so Hamming distance behaves as standard simhash
    * over 56 bits). This is the SCALE configuration: banding 28 bits
    * four ways yields 2^7 = 128 distinct values per band — at corpus
    * scale every band bucket goes quadratic. 56 bits give 2^14 per band
    * (see Dedup.simhashMatchesWide). Still fully portable: any engine
    * that reproduces [[simHash]] reproduces this with one extra
    * (multiplier, seed) pair.
    *
    * Computed by the FUSED kernel (one tokenization pass folding both
    * multiplier families — expressions/SimHashWideNative), bit-identical
    * to `simHashWith(31) + simHashWith(37, seed=1) * 2^28` at half the
    * per-row cost (locked by KernelPropertySpec).
    */
  def simHashWide(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.SimHashWideNative(
      toExpression(text), SimHashBits, 31L, WideMult, WideSeed))
  }

  /** Reference HOF formulation of [[simHash]] — kept (and tested) as the
    * executable specification the native kernel must match.
    */
  def simHashHof(text: Column): Column = simHashHofWith(text, 31L)

  /** HOF spec generalized over the token-hash multiplier and fold seed
    * (the [[simHashWith]] counterpart, and the documentation of how an
    * oracle engine derives the wide signature's halves).
    */
  def simHashHofWith(text: Column, mult: Long, seed: Long = 0L): Column = {
    val hs = transform(tokens(text),
      t => pmod(polyHashHof(t, mult = mult, seed = seed), lit(1L << SimHashBits)))
    // bit j of h, via exact double division (h < 2^28, 2^j exact): portable.
    def bits(h: Column): Column =
      transform(sequence(lit(0), lit(SimHashBits - 1)),
        j => pmod(floor(h.cast(DoubleType) / pow(lit(2.0), j.cast(DoubleType)))
          .cast(LongType), lit(2L)))
    val votes = aggregate(hs, array_repeat(lit(0L), SimHashBits),
      (acc, h) => zip_with(acc, bits(h), (a, b) => a + b * 2L - 1L))
    val powers = array((0 until SimHashBits).map(j => lit(1L << j)): _*)
    aggregate(zip_with(votes, powers, (v, w) => when(v > 0, w).otherwise(0L)),
      lit(0L), (a, b) => a + b)
  }

  /** ASCII-folded prefix window: the first `n` CODEPOINTS with every
    * non-printable-ASCII codepoint replaced by `?`. This is the
    * normalization that makes character-level edit distance portable
    * across engines: Spark's `levenshtein` counts codepoints while e.g.
    * DuckDB's counts BYTES, and the two agree only on pure ASCII — one
    * substitution symbol per folded codepoint keeps alignment exact
    * (both regex engines are codepoint-aware, so an astral char folds to
    * ONE `?` in both). Truncation runs BEFORE folding (substring is
    * codepoint-based in both engines) and bounds the O(n·d) edit-verify
    * kernel per pair regardless of document length.
    */
  def asciiWindow(text: Column, n: Int): Column =
    regexp_replace(substring(text, 1, n), "[^\\x20-\\x7E]", "?")

  /** Per-doc n-gram NOVELTY — the memorization/duplication audit dual:
    * of a doc's distinct n-gram shingles, what fraction appears in NO
    * other document (corpus df = 1)? Low novelty flags boilerplate and
    * template docs that per-doc repetition metrics (which only see
    * within-doc structure) cannot; the aggregate feeds dataset cards
    * ("x% duplicated n-grams") and decontamination triage.
    *
    * Scale shape: ONE shuffle of exploded shingles (the inverted-index
    * pass every dedup stage already pays). Singleton shingles carry
    * their only doc id out of the df aggregate directly
    * (`min(doc) where df = 1` — no join of the df table back onto the
    * corpus-sized shingle stream), so the second aggregate is over
    * singleton shingles only and per-doc set sizes come from a map-only
    * projection. Docs with fewer than n tokens have no shingles and are
    * ABSENT from the output (no 0/0 row).
    *
    * @return (idCol, n_shingles, n_novel, novelty) — novelty = one
    *         division, NULL never (n_shingles ≥ 1 by construction)
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val shingleSet = array_distinct(
      graft.functions.shingles(tokens(col(textCol)), n))
    val sizes = docs
      .select(col(idCol), size(shingleSet).as("n_shingles"))
      .filter(col("n_shingles") > 0)
    val novel = docs
      .select(col(idCol).as("__doc"), explode(shingleSet).as("__s"))
      .groupBy("__s")
      .agg(count(lit(1)).as("__df"), min(col("__doc")).as("__doc1"))
      .filter(col("__df") === 1)
      .groupBy(col("__doc1").as(idCol))
      .agg(count(lit(1)).as("n_novel"))
    sizes.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles").cast(LongType),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_shingles").cast(DoubleType))
  }

  /** Blocklist scan — the "bad words / flagged domains" filter stage:
    * per document, how many tokens hit a (term → category) blocklist,
    * and which categories. The list is a driver-literal table (policy
    * lists are thousands of rows, not corpus-scale), so the physical
    * plan is explode → BROADCAST hash join → per-doc aggregate: only
    * MATCHING tokens survive into the shuffle, which is therefore
    * proportional to hit volume, not corpus token volume. Docs with no
    * hits are absent (inner join) — the common case at scale, and the
    * caller's anti-join recovers the clean set without a second scan.
    *
    * Categories are reported as a sorted-distinct array so the result
    * is deterministic under any aggregation order.
    *
    * @return (idCol, n_hits, n_terms, categories)
    */
  /** Row-local [[blocklistHits]] variant: the same (n_hits, n_terms,
    * categories) computed as a PURE PROJECTION — the term list rides as
    * a plan literal and matching is an array-HOF filter, so it streams
    * statelessly (StreamingSpec locks batch ≡ stream) and pipelines
    * into any scan. The join form stays the batch default when only hit
    * rows should survive into a shuffle; this form emits a row per doc
    * (zero-hit docs report 0/0/[]), which is what a per-record
    * moderation stream wants anyway. Policy lists up to ~thousands of
    * terms are fine as literals; beyond that use the join form.
    */
  def blocklistStruct(text: Column, terms: Seq[(String, String)]): Column = {
    require(terms.nonEmpty, "empty blocklist")
    val termArr = array(terms.map(t => lit(t._1)): _*)
    val hits = filter(tokens(text), t => array_contains(termArr, t))
    // term→category as a CASE chain over the lambda variable
    val catOf = (t: Column) => terms.tail.foldLeft(
      when(t === terms.head._1, lit(terms.head._2))) {
      case (acc, (term, c)) => acc.when(t === term, lit(c))
    }
    struct(
      size(hits).cast(LongType).as("n_hits"),
      size(array_distinct(hits)).cast(LongType).as("n_terms"),
      array_sort(array_distinct(transform(array_distinct(hits), catOf)))
        .as("categories"))
  }

  def blocklistHits(docs: DataFrame, idCol: String, textCol: String,
                    terms: Seq[(String, String)]): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val spark = docs.sparkSession
    import spark.implicits._
    val termDf = terms.toDF("__term", "__cat")
    docs.select(col(idCol), explode(tokens(col(textCol))).as("__term"))
      .join(broadcast(termDf), "__term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        size(array_distinct(collect_list(col("__term")))).cast(LongType)
          .as("n_terms"),
        array_sort(array_distinct(collect_list(col("__cat"))))
          .as("categories"))
  }

  /** Pairwise VOCABULARY overlap between groups (sources, langs,
    * snapshots): distinct-token-set intersection, per-group vocabulary
    * sizes, and set Jaccard for every unordered group pair — the "are
    * these two sources the same register/domain" read, and the cheap
    * proxy for cross-source contamination before any pair of documents
    * is compared.
    *
    * Scale shape: the corpus reduces to DISTINCT (group, token) rows
    * first (map-side combine absorbs token frequency — a token's corpus
    * count never travels), so the self-join is on the VOCAB table, keyed
    * by token; a token's fan-out is bounded by groups−1 ≪ corpus, and
    * union sizes come from inclusion-exclusion (|A|+|B|−|A∩B|), never a
    * union scan per pair. Bounded by |vocab|·|groups| throughout.
    *
    * @return (group_a, group_b, vocab_a, vocab_b, inter, jaccard),
    *         group_a < group_b; pairs with empty intersection are absent
    *         (their Jaccard is derivable from the per-group sizes).
    */
  def vocabOverlap(docs: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    val vocab = docs
      .select(col(groupCol).as("__g"), explode(tokens(col(textCol))).as("__t"))
      .distinct()
    val sizes = vocab.groupBy(col("__g")).agg(count(lit(1)).as("__v"))
    val inter = vocab.select(col("__g").as("group_a"), col("__t"))
      .join(vocab.select(col("__g").as("group_b"), col("__t")), "__t")
      .filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("__g").as("group_a"), col("__v").as("vocab_a")),
        "group_a")
      .join(sizes.select(col("__g").as("group_b"), col("__v").as("vocab_b")),
        "group_b")
      .select(col("group_a"), col("group_b"), col("vocab_a"), col("vocab_b"),
        col("inter"),
        (col("inter").cast(DoubleType) /
          (col("vocab_a") + col("vocab_b") - col("inter")).cast(DoubleType))
          .as("jaccard"))
  }

  /** HEAPS'-law vocabulary-growth curve: distinct-token vocabulary size
    * and total token mass after the first k documents (in `idCol`
    * order), for each requested checkpoint — the sub-linearity read
    * (V ≈ K·Nᵝ) that says whether more data still buys new vocabulary
    * or the corpus has saturated; a flat tail is the data-driven
    * stopping rule for vocabulary-building passes.
    *
    * Exact and sort-free: each token's FIRST document id is one min()
    * over the token histogram; each checkpoint's vocabulary is then the
    * count of tokens with first_doc ≤ k, and its token mass is the sum
    * of per-doc counts with doc ≤ k — both one broadcastable
    * checkpoint-explode join over histogram/per-doc rows, never a
    * corpus re-scan per checkpoint.
    *
    * @param checkpoints strictly positive doc-id cutoffs (inclusive)
    * @return one row per checkpoint: (k, n_docs, total_tokens, vocab)
    */
  def heapsCurve(docs: DataFrame, idCol: String, textCol: String,
                 checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint")
    val spark = docs.sparkSession
    import spark.implicits._
    val cps = checkpoints.toDF("k")
    val toks = docs.select(col(idCol).as("__d"),
      explode(tokens(col(textCol))).as("__t"))
    val firstDoc = toks.groupBy("__t").agg(min(col("__d")).as("__fd"))
    val vocabAt = broadcast(cps).join(firstDoc, col("__fd") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("vocab"))
    val perDoc = toks.groupBy("__d").agg(count(lit(1)).as("__c"))
    val massAt = broadcast(cps).join(perDoc, col("__d") <= col("k"))
      .groupBy("k").agg(sum(col("__c")).as("total_tokens"))
    val docsAt = broadcast(cps)
      .join(docs.select(col(idCol).as("__d")), col("__d") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_docs"))
    cps.join(docsAt, Seq("k"), "left").join(massAt, Seq("k"), "left")
      .join(vocabAt, Seq("k"), "left")
      .select(col("k"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** DICTIONARY-ENCODE a corpus: build a frequency-ranked token
    * vocabulary (id 0 = most frequent; ties by token string — the
    * deterministic variant of every tokenizer's vocab ordering) and
    * rewrite each document as its id sequence with OOV = −1 — the step
    * that turns a text corpus into the integer arrays a training job
    * memory-maps, and the complement of [[Bpe]]'s learned subwords for
    * whitespace-token models.
    *
    * @param minDf tokens in fewer than `minDf` documents stay OUT of the
    *              vocabulary (encode as OOV) — the standard tail cut
    * @return one row per document: (idCol, ids ARRAY<LONG> in token
    *         order, n_tokens, n_oov); empty/whitespace docs get an empty
    *         array. Ordering inside `ids` is by token POSITION (exact),
    *         not collection order.
    *
    * Scale shape: vocabulary ids come from [[GlobalIds.contiguousIds]]
    * over the token-frequency histogram (bucket = negated count —
    * monotone along the count-desc order; the only windows run over
    * histogram rows). The encode join is vocab-sized (broadcastable);
    * re-assembly is one groupBy(doc) of (pos, id) structs — a doc's
    * cost is its own length, the same per-key bound as every chunker
    * here.
    */
  def dictionaryEncode(docs: DataFrame, idCol: String, textCol: String,
                       minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, "minDf must be at least 1")
    val toks = docs.select(col(idCol).as("__d"),
      posexplode(tokens(col(textCol))).as(Seq("__p", "__t")))
    val counts = toks.groupBy("__t")
      .agg(count(lit(1)).as("__cnt"),
        count_distinct(col("__d")).as("__df"))
      .filter(col("__df") >= minDf)
    val vocab = GlobalIds.contiguousIds(counts, -col("__cnt"),
      Seq(col("__cnt").desc, col("__t").asc), "__vid")
      .select(col("__t"), col("__vid"))
    val enc = toks
      .join(broadcast(vocab), Seq("__t"), "left")
      .withColumn("__id", coalesce(col("__vid"), lit(-1L)))
      .groupBy("__d")
      .agg(
        transform(array_sort(collect_list(struct(col("__p"), col("__id")))),
          x => x.getField("__id")).as("ids"),
        count(lit(1)).as("n_tokens"),
        count(when(col("__id") === -1L, 1L)).as("n_oov"))
    docs.select(col(idCol))
      .join(enc, col(idCol) === col("__d"), "left")
      .select(col(idCol),
        coalesce(col("ids"), array().cast("array<long>")).as("ids"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }
}
