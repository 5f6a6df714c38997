package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.{toCatalystTree, toColumn}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine's compiled kernels and curation
  * functions, registered through the public [[SparkSessionExtensions]]
  * hook so the library is usable from pure SQL, not just the Scala API:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  *   spark.sql("SELECT graft_simhash(text) FROM docs")
  * }}}
  *
  * or on an already-built session: `GraftExtensions.register(spark)`.
  * [[GraftExtensions.functions]] is the registry: one `graft_*` entry per
  * function, its usage text, and a builder that calls the same Scala
  * builder the operators use (a [[graft.functions]] kernel, an operator
  * column, or one of the expression classes kept in
  * [[graft.expressions]]). Results equal the Scala API's; output column
  * names and plan rendering may differ. Arity and literal-parameter
  * errors surface at analysis time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INT literal, got $other")
  }

  /** One registry entry: the name is the `usage` text up to its "(";
    * a call whose arguments `build` does not match fails at analysis.
    */
  private def fn(usage: String)(
      build: PartialFunction[Seq[Expression], Expression]) = {
    val name = usage.takeWhile(_ != '(')
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.plans.GraftExtensions", null, name, usage, ""),
      (es: Seq[Expression]) => build.applyOrElse(es, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"wrong number of arguments (${es.length}) for $usage")))
  }

  /** (identifier, info, builder) triples in SparkSessionExtensions'
    * injectFunction shape; shared by the extension hook and [[register]].
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("graft_dot_f(a, b) - dot product of two FLOAT arrays") {
      case Seq(a, b) => graft.expressions.DotProductFloat(a, b) },
    fn("graft_simhash(s) - 28-bit portable simhash") {
      case Seq(s) => graft.expressions.SimHashNative(s, graft.operators.TextAnalysis.SimHashBits) },
    fn("graft_polyhash(s) - portable polynomial code-point hash mod 1e9+7") {
      case Seq(s) => graft.expressions.PolyHashNative(s, graft.operators.TextAnalysis.HashMod) },
    fn("graft_ngram_hash_set(s, n) - sorted distinct xxhash64 hashes of word n-grams") {
      case Seq(s, n) => graft.expressions.NgramHashSet(s, litInt(n, "graft_ngram_hash_set", "n")) },
    fn("graft_ngram_hash_seq(s, n) - positional word-n-gram hashes (element i = gram starting at token i)") {
      case Seq(s, n) => graft.expressions.NgramHashSeq(s, litInt(n, "graft_ngram_hash_seq", "n")) },
    fn("graft_token_count(s) - whitespace token count (compiled, = size of tokens)") {
      case Seq(s) => graft.expressions.TokenCountNative(s) },
    fn("graft_intersect_count_sorted(a, b) - |A∩B| of sorted distinct LONG arrays") {
      case Seq(a, b) => graft.expressions.IntersectCountSortedLong(a, b) },
    fn("graft_max_equal_run(a) - longest equal-neighbor run in a SORTED LONG array (max multiplicity)") {
      case Seq(a) => graft.expressions.MaxEqualRunLongs(a) },
    fn("graft_bottomk(x, k) - aggregate: the k smallest distinct LONG values, ascending") {
      case Seq(x, k) => graft.expressions.BottomKLongs(x, litInt(k, "graft_bottomk", "k")) },
    fn("graft_bottomk_pairs(h, v, k) - aggregate: the k smallest distinct (h, v) LONG pairs by (h, v), ascending (deterministic-sample sketch)") {
      case Seq(h, v, k) => graft.expressions.BottomKLongPairs(h, v, litInt(k, "graft_bottomk_pairs", "k")) },
    fn("graft_pii_redact(s) - replace emails/IPv4/long digit runs with typed placeholders") {
      case Seq(s) => toCatalystTree(graft.operators.TextAnalysis.piiRedact(toColumn(s))) },
    fn("graft_quality_score(s) - composite [0,1] text-quality score (rational arithmetic)") {
      case Seq(s) => toCatalystTree(graft.operators.TextAnalysis.qualityScore(toColumn(s))) },
    fn("graft_hash_bucket(key, n) - portable Knuth bucket in [0, n) (deterministic sampling/split hash)") {
      case Seq(k, n) => toCatalystTree(graft.operators.Sampling.hashBucket(toColumn(k),
          litInt(n, "graft_hash_bucket", "n"))) },
    fn("graft_url_normalize(url) - canonical URL: fragment/default-port/utm_*/trailing-slash stripped, scheme+host lowercased") {
      case Seq(u) => toCatalystTree(graft.operators.UrlOps.normalizeUrl(toColumn(u))) },
    fn("graft_url_host(url) - lowercased host[:port] of a URL ('' when unparseable)") {
      case Seq(u) => toCatalystTree(graft.operators.UrlOps.host(toColumn(u))) },
    fn("graft_url_domain(host) - PSL-lite registrable domain (sld.tld, or third.sld.tld for known multi-part suffixes)") {
      case Seq(h) => toCatalystTree(graft.operators.UrlOps.registrableDomain(toColumn(h))) },
    fn("graft_mg_topk(item, k) - aggregate: Misra-Gries frequent-items summary, array<struct<item,w>> by (w desc, item); candidate SUPERSET above n/(k+1) - recount for exact counts") {
      case Seq(item, k) => graft.expressions.MisraGriesStrings(item,
          litInt(k, "graft_mg_topk", "k")) },
    fn("graft_rendezvous_shard(key, n) - HRW shard in [0, n): resize n->n+1 moves only the new shard's winners") {
      case Seq(k, n) => toCatalystTree(graft.operators.Layout.rendezvousShard(toColumn(k),
          litInt(n, "graft_rendezvous_shard", "n"))) },
    fn("graft_winnow_fps(s, n, w) - MOSS winnowing fingerprints of word n-grams, array<struct<pos,fp>> sorted by pos (row-local, stateless)") {
      case Seq(s, n, w) => toCatalystTree(graft.operators.Winnow.fingerprintArray(toColumn(s),
          litInt(n, "graft_winnow_fps", "n"),
          litInt(w, "graft_winnow_fps", "w"))) },
    fn("graft_nfc(s) - Unicode NFC canonical composition (compiled)") {
      case Seq(s) => toCatalystTree(graft.functions.nfc(toColumn(s))) },
    fn("graft_canonical_text(s) - dedup canonical form: NFC, whitespace-run collapse, control/format strip, trim") {
      case Seq(s) => toCatalystTree(graft.operators.TextAnalysis.canonicalize(toColumn(s))) },
    fn("graft_multiset_intersect_sorted(a, b) - clipped overlap Σ_g min(count_a, count_b) of SORTED STRING arrays (ROUGE-N numerator)") {
      case Seq(a, b) => toCatalystTree(graft.functions.multisetIntersectSorted(toColumn(a), toColumn(b))) },
    fn("graft_multiset_clip_max_ref(cand, refs) - Σ_g min(count_cand, max over refs of count_ref) of a SORTED STRING array vs an array of SORTED STRING arrays (BLEU clipping)") {
      case Seq(a, b) => toCatalystTree(graft.functions.multisetClipMaxRef(toColumn(a), toColumn(b))) },
    fn("graft_lcs_token_length(a, b) - longest-common-subsequence length of two STRING arrays (ROUGE-L kernel)") {
      case Seq(a, b) => toCatalystTree(graft.functions.lcsTokenLength(toColumn(a), toColumn(b))) },
    fn("graft_chrf_gram_overlaps(cand, ref, maxOrder) - per-order chrF components array<struct<k,n_cand_grams,n_ref_grams,overlap>> over effective orders of pre-stripped strings") {
      case Seq(c, r, m) => toCatalystTree(graft.functions.chrfGramOverlaps(toColumn(c), toColumn(r),
          litInt(m, "graft_chrf_gram_overlaps", "maxOrder"))) },
    fn("graft_media_header(content) - codec-free PNG/GIF/JPEG/WebP/BMP/TIFF header decode of a BINARY payload: struct<format,width,height,bit_depth,orientation>, NULL on corrupt/truncated/unknown") {
      case Seq(c) => toCatalystTree(graft.functions.mediaHeader(toColumn(c))) },
    fn("graft_audio_header(content) - codec-free WAV/FLAC header decode of a BINARY payload: struct<format,sample_rate,channels,bits>, NULL on corrupt/truncated/unknown") {
      case Seq(c) => toCatalystTree(graft.functions.audioHeader(toColumn(c))) },
    fn("graft_pixel_stats(content) - codec-free PNG/BMP/GIF PIXEL decode of a BINARY payload: struct<format,width,height,channels,n_pixels,lum_sum,lum_sq_sum,dhash,lum_hist>, NULL on corrupt/truncated/unsupported") {
      case Seq(c) => toCatalystTree(graft.functions.pixelStats(toColumn(c))) },
    fn("graft_pcm_stats(content) - WAV sample statistics (PCM-16 and G.711 ulaw/alaw) of a BINARY payload: struct<codec,sample_rate,channels,bits,n_samples,duration_ms,sum_q,sq_sum,n_clipped,lead_silence,trail_silence>, NULL on corrupt/truncated/unsupported layouts") {
      case Seq(c) => toCatalystTree(graft.functions.pcmStats(toColumn(c))) },
    fn("graft_audio_hash(content) - 64-bit energy-envelope sign hash of a WAV payload (PCM-16, G.711 ulaw/alaw): the perceptual audio-dedup signature; NULL on corrupt/unsupported/<65-sample payloads") {
      case Seq(c) => toCatalystTree(graft.functions.audioHash(toColumn(c))) },
    fn("graft_video_header(content) - codec-free MP4/AVI/Matroska(WebM) container header decode of a BINARY payload: struct<format,width,height,duration_ms,n_frames,codec>, NULL on corrupt/truncated/unknown") {
      case Seq(c) => toCatalystTree(graft.functions.videoHeader(toColumn(c))) },
    fn("graft_video_frame_stats(content, stride) - every stride-th uncompressed-DIB AVI frame reduced to pixel statistics: array<struct<frame_idx,lum_sum,lum_sq_sum,dhash>>, NULL on corrupt/compressed") {
      case Seq(c, st) => toCatalystTree(graft.functions.videoFrameStats(toColumn(c),
          litInt(st, "graft_video_frame_stats", "stride"))) },
    fn("graft_mp3_header(content) - MP3 (MPEG Layer III) frame-walk decode of a BINARY payload: struct<sample_rate,channels,n_frames,duration_ms,bitrate_kbps>, NULL on corrupt/truncated/non-LayerIII") {
      case Seq(c) => toCatalystTree(graft.functions.mp3Header(toColumn(c))) },
    fn("graft_tar_members(content) - POSIX-ustar member enumeration of a BINARY payload: array<struct<name,offset,size>> of regular files (offset = first data byte; slice with substring(content, offset+1, size)), NULL on corrupt/truncated/non-tar") {
      case Seq(c) => toCatalystTree(graft.functions.tarMembers(toColumn(c))) },
    fn("graft_gzip_decode(content) - RFC 1952 gzip decode of a BINARY payload (multi-member concatenation; CRC-32 + ISIZE verified; 64 MiB cap), NULL on corrupt framing or failed integrity") {
      case Seq(c) => toCatalystTree(graft.functions.gzipDecode(toColumn(c))) },
    fn("graft_zstd_decode(content) - RFC 8878 zstd frame decode of a BINARY payload (multi-frame concatenation; XXH64 checksums verified; declared-size + streaming 64 MiB caps), NULL on corrupt frames or failed integrity") {
      case Seq(c) => toCatalystTree(graft.functions.zstdDecode(toColumn(c))) },
    fn("graft_media_strip(content) - image metadata strip (privacy): JPEG APP1-APP15 + COM and PNG tEXt/zTXt/iTXt/eXIf/tIME removed, pixels byte-identical; NULL on non-JPEG/PNG or malformed payloads") {
      case Seq(c) => toCatalystTree(graft.functions.mediaStrip(toColumn(c))) },
    fn("graft_zip_members(content) - ZIP central-directory member enumeration of a BINARY payload: array<struct<name,method,offset,csize,usize>> (offset = first compressed data byte), NULL on corrupt/truncated/non-zip") {
      case Seq(c) => toCatalystTree(graft.functions.zipMembers(toColumn(c))) },
    fn("graft_inflate_raw(data, usize) - RFC 1951 raw-deflate decode of a sliced BINARY payload to exactly usize bytes, NULL on corrupt/mismatch/64 MiB cap") {
      case Seq(d, u) => toCatalystTree(graft.functions.inflateRaw(toColumn(d), toColumn(u))) },
    fn("graft_pixel_resize(content, tw, th) - box-filter downscale of a decodable image payload to a tw x th milli-luminance grid (row-major array<bigint>), NULL on corrupt/unsupported/upscale") {
      case Seq(c, tw, th) => toCatalystTree(graft.functions.pixelResize(toColumn(c),
          litInt(tw, "graft_pixel_resize", "tw"),
          litInt(th, "graft_pixel_resize", "th"))) })

  /** Register on a live session (the non-config path — e.g. notebooks). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, fi, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, fi, builder)
    }
}
