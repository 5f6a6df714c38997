package graft

import graft.expressions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, IntegralDivide, Literal, Pmod, Subtract}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level helpers shared across the engine.
  *
  * Everything here is built from codegen'd Catalyst expressions (no Scala
  * UDFs), so whole-stage codegen stays intact at 100 TB scale. `tryCast`
  * exists because Spark 4 defaults to ANSI mode, where a bad string cast
  * THROWS; the reference pipeline (pre-ANSI) yields NULL on bad input
  * (bronze_processor.py:54,112 relies on it). TRY-mode cast restores the
  * reference semantics regardless of the session's ansi setting.
  *
  * A compiled kernel is a static method on an object in
  * [[graft.expressions]], called through Spark's generic `StaticInvoke`
  * by one builder here: generated code calls the method directly,
  * interpreted evaluation reaches it by reflection, a NULL argument
  * gives NULL without a call, and each argument is implicitly cast to
  * its declared input type as for Spark's built-ins (STRING → BINARY,
  * INT → BIGINT, numbers → STRING, also inside arrays) or rejected at
  * analysis.
  */
package object functions {

  /** `kernel.fn(args…)` with one declared input type per argument.
    * `nullOnCorrupt` marks kernels that return null for input they
    * cannot decode.
    */
  private def kernelCall(kernel: AnyRef, fn: String, dt: DataType,
                         nullOnCorrupt: Boolean,
                         args: (Expression, DataType)*): Column =
    toColumn(StaticInvoke(kernel.getClass, dt, fn, args.map(_._1),
      inputTypes = args.map(_._2), returnNullable = nullOnCorrupt))

  /** A BINARY decoder with INT literal parameters: NULL on corrupt. */
  private def decoder(kernel: AnyRef, fn: String, dt: DataType,
                      content: Column, params: Int*): Column =
    kernelCall(kernel, fn, dt, nullOnCorrupt = true,
      (toExpression(content) -> BinaryType) +:
        params.map(p => (Literal(p): Expression) -> IntegerType): _*)

  private val Strings = ArrayType(StringType)

  /** `CAST(... AS dt)` in TRY evaluation mode: NULL on failure, never throws. */
  def tryCast(c: Column, dt: DataType): Column =
    toColumn(Cast(toExpression(c), dt, None, EvalMode.TRY))

  def tryCastInt(c: Column): Column = tryCast(c, IntegerType)
  def tryCastDouble(c: Column): Column = tryCast(c, DoubleType)

  /** FLOOR integer division of a BIGINT column by a positive constant.
    *
    * Spark's `DIV` truncates toward zero while DuckDB's `//` floors, so
    * any gated bucket expression over a possibly-NEGATIVE integer (e.g.
    * pre-epoch nanos → day buckets) silently diverges cross-engine on
    * the negative range: DIV merges buckets −1 and +1 into 0. pmod
    * (always non-negative) makes the dividend exactly divisible, so the
    * IntegralDivide equals the true floor over the whole long range —
    * no float round-trip (nanos exceed 2^53; a double division here
    * would be inexact).
    */
  def floorDivLit(x: Column, d: Long): Column = {
    require(d > 0, "floorDivLit divisor must be positive")
    val xe = toExpression(x.cast(LongType))
    val de = Literal(d)
    toColumn(new IntegralDivide(
      new Subtract(xe, new Pmod(xe, de)), de))
  }

  /** Integral division of two NON-NEGATIVE integer columns — exact
    * floor, matching DuckDB's `//` on the non-negative range (where
    * truncation and floor coincide; [[floorDivLit]] handles signed
    * dividends). NULL when the divisor is 0 (Spark's IntegralDivide
    * contract), so callers guard with `when(den > 0, …)` where a NULL
    * would be ambiguous. The fixed-point closing-division helper:
    * `posIntDiv(num * 2^q, den)` is the engine-side twin of the
    * oracle's `(num * 2^q) // den`.
    */
  def posIntDiv(num: Column, den: Column): Column =
    toColumn(new IntegralDivide(
      toExpression(num.cast(LongType)), toExpression(den.cast(LongType))))

  /** Exact `floor(sqrt(x))` of a NON-NEGATIVE DECIMAL(38,0) column with
    * x < 2^104 — cross-engine bit-identical, unlike a bare double sqrt
    * whose floor can land on either side of a perfect square.
    *
    * Method: seed with the IEEE-754 double sqrt (correctly rounded),
    * then pick the exact answer from the 5-candidate window
    * {seed−2 … seed+2} by EXACT integer comparisons c² ≤ x in
    * DECIMAL(38,0) — the double only ever chooses a starting point,
    * never the value. The oracle replays the identical seed + CASE
    * chain on HUGEINT.
    *
    * DOMAIN CONTRACT — 0 ≤ x < 2^104 (root < 2^52), ENFORCED with a
    * null-out-of-domain guard: above the bound, the ±2 seed window is
    * unsound (the root exceeds double's 2^52 integer-exact range and
    * `floor(...)`'s Long, and c·c can overflow DECIMAL(38,0) to NULL);
    * below zero, sqrt is NaN and the fold's fallback would return
    * seed−2 = −2. Out-of-domain inputs yield NULL — loud, not wrong.
    * Every gated caller is far inside the domain (√-temperature masses
    * ×2^40 root ≤ 2^51.5); a full-DECIMAL(38,0) domain would need a
    * Newton step on decimals.
    */
  def isqrt(x: Column): Column = {
    val d = DecimalType(38, 0)
    // 2^104, exact as DECIMAL(38,0)
    val domain = lit(new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(104))).cast(d)
    val seed = floor(sqrt(x.cast(DoubleType))).cast(d)
    def fits(c: Column): Column = c * c <= x.cast(d)
    val fallback: Column = seed - lit(2).cast(d)
    when(x.cast(d) >= lit(0).cast(d) && x.cast(d) < domain,
      Seq(2, 1, 0, -1).map(k => seed + lit(k).cast(d))
        .foldRight(fallback) { (c, alt) => when(fits(c), c).otherwise(alt) })
  }

  /** Dot product of two equal-length numeric array columns, computed in
    * Double. Codegen-friendly (zip_with + aggregate are Catalyst
    * higher-order functions; no UDF, no row-by-row JVM boxing).
    */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm of a numeric array column, in Double. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))

  /** Cosine similarity of two numeric array columns, in Double.
    * NULL if either vector has zero norm.
    */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val d = dotProduct(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n =!= 0.0, d / n)
  }

  /** Native codegen'd dot product for FLOAT arrays (the embedding hot
    * path): same element order and widening as [[dotProduct]] — results
    * are bit-identical — but compiled to a primitive loop instead of an
    * interpreted higher-order-function fold.
    */
  def dotProductF(a: Column, b: Column): Column =
    toColumn(graft.expressions.DotProductFloat(toExpression(a), toExpression(b)))

  /** FLOAT-array literal backed by UnsafeArrayData. `typedlit` wraps the
    * values as a GenericArrayData of BOXED floats, so every getFloat in a
    * kernel loop unboxes a java.lang.Float — against a 64-dim literal per
    * centroid/hyperplane that was the hot path's dominant cost. The unsafe
    * layout reads primitives directly.
    */
  def litFloatArray(values: Array[Float]): Column =
    toColumn(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(values),
      ArrayType(FloatType, containsNull = false)))

  /** L2 norm of a float array via the native dot product: sqrt of the
    * same sequential squares-sum [[l2Norm]] computes.
    */
  def l2NormF(a: Column): Column = sqrt(dotProductF(a, a))

  /** Intersection size of two SORTED DISTINCT long arrays — codegen'd
    * two-pointer merge, equal to `size(array_intersect(a, b))` for such
    * inputs without the per-evaluation hash set.
    */
  def intersectCountSorted(a: Column, b: Column): Column =
    toColumn(graft.expressions.IntersectCountSortedLong(toExpression(a), toExpression(b)))

  /** Whitespace tokenization that never yields empty tokens (unlike
    * split-on-single-space). Shared by dedup + text analysis so shingles
    * and token counts agree across operators.
    *
    * The whitespace class is EXPLICIT ([ \t\n\f\r]) rather than \s:
    * Java's \s includes U+000B (vertical tab) but RE2's — and therefore
    * the DuckDB oracles' — does not, so \s would silently diverge between
    * engines on VT input.
    */
  def tokens(text: Column): Column =
    filter(split(text, "[ \\t\\n\\f\\r]+"), t => length(t) > 0)

  /** Positional word-n-gram hashes of a string column (element i = hash
    * of the n-gram starting at token i): the compiled one-pass equivalent
    * of transform(shingles(tokens(text), n), xxhash64-like), for hot
    * paths that need gram POSITIONS (span coverage). See
    * [[graft.expressions.NgramHashSeq]].
    */
  def ngramHashSeq(text: Column, n: Int): Column =
    toColumn(graft.expressions.NgramHashSeq(toExpression(text), n))

  /** Positional PORTABLE gram hashes: element i =
    * polyHash(array_join(slice(tokens, i+1, n), " ")) without building
    * gram strings — for operators whose gram hashes surface in
    * oracle-gated output (see expressions/PolyGramHash).
    */
  def polyGramHashSeq(text: Column, n: Int,
                      mod: Long = 1000000007L /* = TextAnalysis.HashMod */): Column =
    toColumn(graft.expressions.PolyGramHashSeq(toExpression(text), n, mod))

  /** Compiled token count: same value as size(tokens(text)) without the
    * interpreted split+filter pair or the intermediate array.
    */
  def tokenCountNative(text: Column): Column =
    toColumn(graft.expressions.TokenCountNative(toExpression(text)))

  /** Unicode NFC normalization of a string column in one compiled pass
    * (Spark has no built-in normalizer). See [[graft.expressions.NfcKernel]].
    */
  def nfc(text: Column): Column =
    kernelCall(NfcKernel, "compute", StringType, nullOnCorrupt = false,
      toExpression(text) -> StringType)

  /** Compiled token-LCS length of two ARRAY<STRING> columns (the
    * ROUGE-L kernel) — one static-call codegen'd O(n·m) DP instead of
    * two nested interpreted HOF folds.
    */
  def lcsTokenLength(a: Column, b: Column): Column =
    kernelCall(LcsKernel, "lcs", LongType, nullOnCorrupt = false,
      toExpression(a) -> Strings, toExpression(b) -> Strings)

  /** Word n-gram shingles of a token array: array of space-joined n-grams.
    * Documents shorter than n yield an empty array.
    *
    * The input is BOUND ONCE via `transform(array(toks), t -> …)` before
    * any per-gram work: a higher-order function re-evaluates every
    * non-lambda subexpression of its body PER ELEMENT, so the obvious
    * `transform(toks, (_, i) -> … size(toks) … slice(toks, …))` form
    * re-runs the whole upstream token expression (regex split + filter)
    * for every gram — O(L²) per document, measured ~10× on the q148
    * corpus-familiarity plan at sf0.1. Binding `toks` to a lambda
    * variable makes the inner references O(1) value lookups; callers can
    * keep writing `shingles(tokens(text), n)` without the trap.
    */
  def shingles(toks: Column, n: Int): Column =
    element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)), i =>
            array_join(slice(t, i, lit(n)), " ")))
          // short arrays → empty (old filter semantics); NULL input
          // stays NULL (size(NULL) fails the when, isNotNull gates the
          // empty-array fallback)
          .otherwise(when(t.isNotNull, array().cast("array<string>")))),
      1)

  /** Exact MULTISET intersection size of two SORTED string arrays
    * (duplicates count — Σ_g min(count_a, count_b)): the clipped
    * gram-overlap numerator as one codegen'd two-pointer merge. Sort
    * each side ONCE with sort_array. Comparison is UTF8String's binary
    * order, the order `sort_array` sorts by; NULL elements match
    * nothing. Unlike [[intersectCountSorted]] (distinct-set semantics
    * for Jaccard) duplicates count. See
    * [[graft.expressions.MultisetClipKernel.intersectSorted]].
    */
  def multisetIntersectSorted(a: Column, b: Column): Column =
    kernelCall(MultisetClipKernel, "intersectSorted", LongType,
      nullOnCorrupt = false, toExpression(a) -> Strings,
      toExpression(b) -> Strings)

  /** All chrF per-order gram components of a pre-stripped (candidate,
    * reference) string pair in one codegen'd call — effective orders
    * only: ARRAY<STRUCT<k, n_cand_grams, n_ref_grams, overlap>>. Inputs
    * must already be whitespace-stripped. See
    * [[graft.expressions.ChrfKernel]].
    */
  def chrfGramOverlaps(cand: Column, ref: Column, maxOrder: Int): Column = {
    require(maxOrder >= 1 && maxOrder <= 8, "need 1 <= maxOrder <= 8")
    kernelCall(ChrfKernel, "overlaps", ChrfKernel.Schema, nullOnCorrupt = false,
      toExpression(cand) -> StringType, toExpression(ref) -> StringType,
      Literal(maxOrder) -> IntegerType)
  }

  /** Frozen-merge-list BPE encode of a symbol array — the HF-inference
    * min-rank loop over a driver-bounded merge table (rank = array
    * index). See [[graft.expressions.BpeEncode]].
    */
  def bpeEncode(syms: Column, lhs: Seq[String], rhs: Seq[String]): Column =
    toColumn(graft.expressions.BpeEncode(toExpression(syms),
      lhs.toIndexedSeq, rhs.toIndexedSeq))

  /** Codec-free media header decode of a BINARY payload:
    * STRUCT<format, width, height, bit_depth, orientation>, NULL on
    * corrupt / truncated / unknown-magic bytes. See
    * [[graft.expressions.MediaHeaderKernel]].
    */
  def mediaHeader(content: Column): Column =
    decoder(MediaHeaderKernel, "parse", MediaHeaderKernel.Schema, content)

  /** Codec-free AUDIO header decode (WAV/FLAC):
    * STRUCT<format, sample_rate, channels, bits>, NULL on corrupt.
    */
  def audioHeader(content: Column): Column =
    decoder(AudioHeaderKernel, "parse", AudioHeaderKernel.Schema, content)

  /** Codec-free PIXEL decode (PNG via JDK Inflater + filter
    * reconstruction; BMP raw BGR; GIF via the spec's LZW):
    * STRUCT<format, width, height, channels, n_pixels, lum_sum,
    * lum_sq_sum, dhash, lum_hist>, NULL on corrupt / truncated /
    * unsupported payloads. See [[graft.expressions.PixelKernel]].
    */
  def pixelStats(content: Column): Column =
    decoder(PixelKernel, "parse", PixelKernel.Schema, content)

  /** WAV sample statistics (PCM-16 and G.711 ulaw/alaw, codec-free):
    * STRUCT<codec, sample_rate, channels, bits, n_samples, duration_ms,
    * sum_q, sq_sum, n_clipped, lead_silence, trail_silence>, NULL on
    * corrupt / truncated / unsupported layouts. See
    * [[graft.expressions.PcmKernel]].
    */
  def pcmStats(content: Column): Column =
    decoder(PcmKernel, "parse", PcmKernel.Schema, content)

  /** 64-bit energy-envelope sign hash of a WAV payload (PCM-16 and
    * G.711 ulaw/alaw) — perceptual AUDIO dedup signature for
    * [[graft.operators.Dedup.signaturePairs64]]; NULL on corrupt /
    * unsupported / < 65-sample payloads. See
    * [[graft.expressions.PcmKernel.envelopeHash]].
    */
  def audioHash(content: Column): Column =
    decoder(PcmKernel, "envelopeHash", LongType, content)

  /** RFC 8878 zstd frame decode (multi-frame concatenation; XXH64
    * checksums verified by the library; declared-size + streaming
    * 64 MiB decode-bomb caps), NULL on corrupt. See
    * [[graft.expressions.ZstdKernel]].
    */
  def zstdDecode(content: Column): Column =
    decoder(ZstdKernel, "decode", BinaryType, content)

  /** Codec-free VIDEO container header decode (MP4/ISO-BMFF box walk,
    * AVI RIFF walk, Matroska/WebM EBML walk): STRUCT<format, width,
    * height, duration_ms,
    * n_frames, codec>, NULL on corrupt. See
    * [[graft.expressions.VideoHeaderKernel]].
    */
  def videoHeader(content: Column): Column =
    decoder(VideoHeaderKernel, "parse", VideoHeaderKernel.Schema, content)

  /** Every `stride`-th uncompressed-DIB AVI frame reduced to integer
    * pixel statistics: ARRAY<STRUCT<frame_idx, lum_sum, lum_sq_sum,
    * dhash>>, NULL on corrupt / compressed payloads. See
    * [[graft.expressions.VideoFrameKernel]].
    */
  def videoFrameStats(content: Column, stride: Int): Column = {
    require(stride > 0, "stride must be positive")
    decoder(VideoFrameKernel, "parse", VideoFrameKernel.Schema, content, stride)
  }

  /** MP3 (MPEG Layer III) frame-walk header decode: STRUCT<sample_rate,
    * channels, n_frames, duration_ms, bitrate_kbps>, NULL on corrupt.
    * See [[graft.expressions.Mp3HeaderKernel]].
    */
  def mp3Header(content: Column): Column =
    decoder(Mp3HeaderKernel, "parse", Mp3HeaderKernel.Schema, content)

  /** Box-filter downscale of a decodable image payload to a tw×th
    * milli-luminance grid (row-major ARRAY<BIGINT>), NULL on corrupt /
    * unsupported bytes or an upscale request. See
    * [[graft.expressions.PixelKernel.resizeBox]].
    */
  def pixelResize(content: Column, tw: Int, th: Int): Column = {
    require(tw >= 1 && th >= 1, "target dims must be positive")
    decoder(PixelKernel, "resize", ArrayType(LongType, containsNull = false),
      content, tw, th)
  }

  /** TAR member enumeration (the WebDataset ingest kernel):
    * ARRAY<STRUCT<name, offset, size>> of regular-file members; slice
    * payloads with `substring(content, offset + 1, size)`. NULL on
    * corrupt / truncated / non-tar payloads. See
    * [[graft.expressions.TarKernel]].
    */
  def tarMembers(content: Column): Column =
    decoder(TarKernel, "parse", TarKernel.Schema, content)

  /** GZIP member decode (RFC 1952, multi-member concatenation, CRC-32 +
    * ISIZE verified): BINARY → BINARY, NULL on corrupt framing / failed
    * integrity / 64 MiB decode-bomb cap. Chains:
    * `tarMembers(gzipDecode(c))` reads a .tar.gz WebDataset shard. See
    * [[graft.expressions.GzipKernel]].
    */
  def gzipDecode(content: Column): Column =
    decoder(GzipKernel, "decode", BinaryType, content)

  /** Image metadata STRIP (the multimodal privacy pass): JPEG
    * APP1–APP15 + COM and PNG tEXt/zTXt/iTXt/eXIf/tIME removed, pixels
    * byte-identical; BINARY → BINARY, NULL on non-JPEG/PNG or
    * malformed payloads. See [[graft.expressions.MediaStripKernel]].
    */
  def mediaStrip(content: Column): Column =
    decoder(MediaStripKernel, "strip", BinaryType, content)

  /** ZIP member enumeration (central-directory walk): ARRAY<STRUCT<
    * name, method, offset, csize, usize>>; slice compressed bytes with
    * `substring(content, offset + 1, csize)` — stored members are the
    * payload as-is, deflated members feed [[inflateRaw]]. NULL on
    * corrupt. See [[graft.expressions.ZipKernel]].
    */
  def zipMembers(content: Column): Column =
    decoder(ZipKernel, "parse", ZipKernel.Schema, content)

  /** RFC 1951 raw-deflate decode of an already-sliced payload to
    * exactly `usize` bytes (NULL on corrupt/mismatch/64 MiB cap). See
    * [[graft.expressions.InflateRawKernel]].
    */
  def inflateRaw(data: Column, usize: Column): Column =
    kernelCall(InflateRawKernel, "decode", BinaryType, nullOnCorrupt = true,
      toExpression(data) -> BinaryType, toExpression(usize) -> LongType)

  /** Multi-reference clipped overlap — Σ_g min(count_cand(g), max over
    * refs of count_ref(g)) — of a SORTED string array against an array
    * of SORTED string arrays: the BLEU clipping rule as one codegen'd
    * single-pass merge. NULL inner reference arrays contribute no
    * credit. See [[graft.expressions.MultisetClipKernel.clipMaxRef]].
    */
  def multisetClipMaxRef(cand: Column, refs: Column): Column =
    kernelCall(MultisetClipKernel, "clipMaxRef", LongType,
      nullOnCorrupt = false, toExpression(cand) -> Strings,
      toExpression(refs) -> ArrayType(Strings))

  /** All contiguous CHARACTER n-grams of a string, in order — the
    * char-level twin of [[shingles]] (same bind-once discipline: the
    * string is bound to a lambda variable so per-gram `substring` calls
    * don't re-evaluate the upstream expression — the measured-10×
    * HOF trap). Strings shorter than n → empty array; NULL → NULL.
    * Both `length` and `substr` count Unicode code points on Spark and
    * DuckDB alike, so gram identity is cross-engine stable.
    */
  def charShingles(s: Column, n: Int): Column =
    element_at(
      transform(array(s), t =>
        when(length(t) >= n,
          transform(sequence(lit(1), length(t) - (n - 1)), i =>
            t.substr(i, lit(n))))
          .otherwise(when(t.isNotNull, array().cast("array<string>")))),
      1)
}
