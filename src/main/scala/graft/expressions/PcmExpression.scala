package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WAV audio SAMPLE statistics — the audio twin of
  * [[PixelKernel]]: linear PCM is RAW and G.711 companded audio (the
  * telephony-corpus format) expands by PURE INTEGER ARITHMETIC, so the
  * full sample-level quality gate an audio training pipeline runs —
  * energy, clipping, leading/trailing silence — needs no codec:
  *
  *  - container: RIFF/WAVE chunk walk (the [[AudioHeaderKernel]]
  *    discipline — every read bounds-checked) to BOTH the "fmt " chunk
  *    and the "data" chunk. Supported layouts: format tag 1 (linear
  *    PCM, 16 bits/sample), tag 7 (G.711 μ-law, 8 bits), tag 6
  *    (G.711 A-law, 8 bits), tag 0x11 (IMA/DVI ADPCM, 4 bits — mono
  *    round 16, STEREO round 17 with per-channel headers and
  *    alternating 4-byte channel chunks; the public step/index
  *    tables, per-block int16 predictor + step-index headers emitted
  *    as the block's first sample(s), low-nibble-first packing,
  *    partial final blocks allowed, a step index past 88 is corrupt),
  *    and tag 0x02 (MS-ADPCM, 4 bits, mono/stereo — round 17: the
  *    other ubiquitous legacy WAV codec; 7·ch-byte block headers
  *    carrying bPredictor/iDelta/iSamp1/iSamp2 per channel, HIGH
  *    nibble first, channels alternating per nibble, the public
  *    adaptation + coefficient tables, a bPredictor past 6 is
  *    corrupt) — anything else → NULL, loud not wrong;
  *  - samples: PCM-16 is signed little-endian; μ-law/A-law bytes
  *    expand through the public G.711/CCITT formulas (the Sun
  *    reference implementation's arithmetic): μ-law u = ~c,
  *    t = ((u & 0x0F)·8 + 0x84) << ((u & 0x70) >> 4), linear =
  *    ±(t − 0x84) by the sign bit (full scale ±32124); A-law
  *    a = c xor 0x55, t = (a & 0x0F) << 4 plus the segment bias,
  *    shifted by segment − 1 above segment 1 (full scale ±32256, sign
  *    bit NON-inverted — t when set, −t otherwise, per the reference).
  *    Channels interleaved; the declared data size must be fully
  *    present (mid-data truncation → NULL) and frame-aligned;
  *  - statistics (all integer, oracle-replayable): n_samples (across
  *    channels), duration_ms = ⌊frames·1000 / rate⌋, sum_q = Σs,
  *    sq_sum = Σs² (RMS numerator) over the DECODED linear values,
  *    n_clipped = count at the format's full-scale rails (PCM-16:
  *    32767/−32768; μ-law: ±32124; A-law: ±32256),
  *    lead/trail_silence = longest run of |s| ≤ 256 from either end
  *    (an ALL-silent stream reports n_samples for both — documented,
  *    the gate's silence-ratio check saturates identically).
  *
  * Decode-bomb guard: data chunks advertising > 2^26 bytes return NULL
  * rather than scanning unbounded memory.
  */
object PcmKernel {

  /** Result type of [[parse]]. */
  val Schema: StructType = StructType(
    StructField("codec", StringType, nullable = false) +: Seq(
      "sample_rate", "channels", "bits", "n_samples", "duration_ms",
      "sum_q", "sq_sum", "n_clipped", "lead_silence", "trail_silence")
      .map(StructField(_, LongType, nullable = false)))

  private val MaxDataBytes = 1L << 26
  private val SilenceThreshold = 256

  /** G.711 μ-law expansion (CCITT / Sun g711.c ulaw2linear). */
  private[graft] def ulaw2linear(code: Int): Int = {
    val u = ~code & 0xFF
    val t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law expansion (CCITT / Sun g711.c alaw2linear). */
  private[graft] def alaw2linear(code: Int): Int = {
    val a = code ^ 0x55
    var t = (a & 0x0F) << 4
    val seg = (a & 0x70) >> 4
    seg match {
      case 0 => t += 8
      case 1 => t += 0x108
      case _ => t += 0x108; t <<= seg - 1
    }
    if ((a & 0x80) != 0) t else -t
  }

  private def le16(b: Array[Byte], i: Int): Long =
    ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private val CODEC_PCM16 = UTF8String.fromString("pcm16")
  private val CODEC_ULAW = UTF8String.fromString("ulaw")
  private val CODEC_ALAW = UTF8String.fromString("alaw")
  private val CODEC_IMA = UTF8String.fromString("ima_adpcm")
  private val CODEC_MS = UTF8String.fromString("ms_adpcm")
  private val CODEC_FLAC = UTF8String.fromString("flac")

  /** Sentinel `tag` for FLAC containers (no WAV format tag exists). */
  private val TagFlac = 0xF1ACL

  /** MS-ADPCM adaptation table (the public Microsoft WAVE spec),
    * indexed by the unsigned nibble.
    */
  private[graft] val MsAdapt: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  /** MS-ADPCM predictor coefficient pairs (×256), bPredictor 0..6. */
  private[graft] val MsCoef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  private[graft] val MsCoef2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)

  /** IMA/DVI ADPCM step-size table (the public 89-entry table from the
    * IMA Digital Audio compatibility spec — also RFC 3551 §4.5.1's
    * DVI4 reference).
    */
  private[graft] val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)

  /** Index adjustment per nibble magnitude (low 3 bits). */
  private[graft] val ImaIndex: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA nibble step: returns the new packed (pred, idx) state and
    * leaves the decoded sample in `pred`. Public arithmetic only:
    * diff = step/8 (+ step/4 if bit0, + step/2 if bit1, + step if
    * bit2), sign bit3, predictor clamped to int16, index clamped 0..88.
    */
  private def imaStep(pred0: Int, idx0: Int, nib: Int): (Int, Int) = {
    val step = ImaStep(idx0)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    var pred = if ((nib & 8) != 0) pred0 - diff else pred0 + diff
    if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
    var idx = idx0 + ImaIndex(nib & 7)
    if (idx < 0) idx = 0 else if (idx > 88) idx = 88
    (pred, idx)
  }

  /** Decode a mono IMA ADPCM `data` payload (sequence of blockAlign-
    * sized blocks; final block may be partial but must keep its 4-byte
    * header plus at least one nibble byte) to linear samples, or null
    * on any malformation — a step index past 88 in any block header is
    * corrupt, loud not wrong. Block layout (mono): int16 LE predictor
    * (emitted as the block's first sample), uint8 step index, one
    * reserved byte, then nibble bytes — LOW nibble first, two samples
    * per byte.
    */
  private def imaDecode(b: Array[Byte], dataOff: Int, dataLen: Int,
                        blockAlign: Int): Array[Short] = {
    if (blockAlign < 8 || blockAlign % 4 != 0) return null
    var off = 0
    var total = 0
    while (off < dataLen) { // size pass (exact allocation, no growth)
      val bl = math.min(blockAlign, dataLen - off)
      if (bl < 5) return null // a header with no samples is malformed
      total += 1 + (bl - 4) * 2
      off += bl
    }
    if (total == 0) return null
    val out = new Array[Short](total)
    var w = 0
    off = 0
    while (off < dataLen) {
      val bl = math.min(blockAlign, dataLen - off)
      var pred = le16(b, dataOff + off).toShort.toInt
      var idx = b(dataOff + off + 2) & 0xFF
      if (idx > 88) return null // corrupt header
      out(w) = pred.toShort; w += 1
      var k = 4
      while (k < bl) {
        val byte = b(dataOff + off + k) & 0xFF
        val (p1, i1) = imaStep(pred, idx, byte & 0x0F)
        out(w) = p1.toShort; w += 1
        val (p2, i2) = imaStep(p1, i1, byte >> 4)
        out(w) = p2.toShort; w += 1
        pred = p2; idx = i2
        k += 1
      }
      off += bl
    }
    out
  }

  /** Decode a STEREO IMA ADPCM `data` payload (round 17): per block,
    * a 4-byte header per channel (left then right), then the data in
    * 4-byte PER-CHANNEL CHUNKS — 4 bytes (8 nibbles) of left, 4 bytes
    * of right, alternating. Output is frame-interleaved L R L R …
    * starting with the two header predictors. A partial final block
    * must keep both headers and whole 8-byte chunk pairs (a left chunk
    * with no right partner has no frame alignment) — else null.
    */
  private def imaDecodeStereo(b: Array[Byte], dataOff: Int, dataLen: Int,
                              blockAlign: Int): Array[Short] = {
    if (blockAlign < 16 || blockAlign % 8 != 0) return null
    var off = 0
    var total = 0
    while (off < dataLen) { // size pass
      val bl = math.min(blockAlign, dataLen - off)
      if (bl < 8 || (bl - 8) % 8 != 0) return null
      total += 2 + (bl - 8) * 2 // 2 header samples + 2 per data byte
      off += bl
    }
    if (total == 0) return null
    val out = new Array[Short](total)
    var w = 0
    off = 0
    while (off < dataLen) {
      val bl = math.min(blockAlign, dataLen - off)
      var predL = le16(b, dataOff + off).toShort.toInt
      var idxL = b(dataOff + off + 2) & 0xFF
      var predR = le16(b, dataOff + off + 4).toShort.toInt
      var idxR = b(dataOff + off + 6) & 0xFF
      if (idxL > 88 || idxR > 88) return null // corrupt header
      out(w) = predL.toShort; out(w + 1) = predR.toShort; w += 2
      var g = 8 // 8-byte chunk-pair cursor within the block
      while (g < bl) {
        var k = 0
        while (k < 4) { // 8 frames per chunk pair
          val lByte = b(dataOff + off + g + k) & 0xFF
          val rByte = b(dataOff + off + g + 4 + k) & 0xFF
          val (pl1, il1) = imaStep(predL, idxL, lByte & 0x0F)
          val (pr1, ir1) = imaStep(predR, idxR, rByte & 0x0F)
          out(w) = pl1.toShort; out(w + 1) = pr1.toShort; w += 2
          val (pl2, il2) = imaStep(pl1, il1, lByte >> 4)
          val (pr2, ir2) = imaStep(pr1, ir1, rByte >> 4)
          out(w) = pl2.toShort; out(w + 1) = pr2.toShort; w += 2
          predL = pl2; idxL = il2; predR = pr2; idxR = ir2
          k += 1
        }
        g += 8
      }
      off += bl
    }
    out
  }

  /** Decode an MS-ADPCM (tag 0x02) `data` payload (round 17 — the
    * other ubiquitous legacy WAV codec). Per block: one bPredictor
    * byte per channel (0..6 — past the 7-entry coefficient tables is
    * corrupt), one int16 iDelta per channel, one int16 iSamp1 per
    * channel, one int16 iSamp2 per channel (7·ch header bytes), then
    * nibble data HIGH nibble first (the opposite of IMA), channels
    * alternating per nibble in stereo. The first two output samples
    * per channel are iSamp2 then iSamp1 (iSamp2 is the OLDER sample).
    * Per nibble: pred = trunc((samp1·c1 + samp2·c2)/256), sample =
    * clamp(pred + signed4(nib)·delta), delta = clamp(
    * trunc(Adapt[nib]·delta/256), 16, 32767) — the public Microsoft
    * arithmetic with delta pinned to its int16 storage range,
    * every intermediate an integer, so the oracle replays it. A
    * partial final block keeps its full header; any data byte count
    * is legal in stereo (one L+R frame per byte) while mono bytes
    * carry two samples.
    */
  private def msDecode(b: Array[Byte], dataOff: Int, dataLen: Int,
                       blockAlign: Int, ch: Int): Array[Short] = {
    val hdr = 7 * ch
    if (blockAlign < hdr + 1) return null
    var off = 0
    var total = 0
    while (off < dataLen) { // size pass
      val bl = math.min(blockAlign, dataLen - off)
      if (bl < hdr) return null
      total += 2 * ch + (bl - hdr) * 2
      off += bl
    }
    if (total == 0) return null
    val out = new Array[Short](total)
    var w = 0
    off = 0
    val coef1 = new Array[Int](ch); val coef2 = new Array[Int](ch)
    val delta = new Array[Int](ch)
    val samp1 = new Array[Int](ch); val samp2 = new Array[Int](ch)
    while (off < dataLen) {
      val bl = math.min(blockAlign, dataLen - off)
      val p = dataOff + off
      var c = 0
      while (c < ch) {
        val pred = b(p + c) & 0xFF
        if (pred > 6) return null // corrupt predictor index
        coef1(c) = MsCoef1(pred); coef2(c) = MsCoef2(pred)
        delta(c) = le16(b, p + ch + 2 * c).toShort.toInt
        if (delta(c) < 16) delta(c) = 16
        samp1(c) = le16(b, p + 3 * ch + 2 * c).toShort.toInt
        samp2(c) = le16(b, p + 5 * ch + 2 * c).toShort.toInt
        c += 1
      }
      c = 0
      while (c < ch) { out(w) = samp2(c).toShort; w += 1; c += 1 }
      c = 0
      while (c < ch) { out(w) = samp1(c).toShort; w += 1; c += 1 }
      var nibIdx = 0
      val nNibs = (bl - hdr) * 2
      while (nibIdx < nNibs) {
        val byte = b(p + hdr + (nibIdx >> 1)) & 0xFF
        val nib = if ((nibIdx & 1) == 0) byte >> 4 else byte & 0x0F
        val c0 = nibIdx % ch
        val sNib = if (nib >= 8) nib - 16 else nib
        var pred = (samp1(c0) * coef1(c0) + samp2(c0) * coef2(c0)) / 256
        pred += sNib * delta(c0)
        if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
        out(w) = pred.toShort; w += 1
        samp2(c0) = samp1(c0); samp1(c0) = pred
        // delta pinned to the int16 range its block-header storage
        // implies (16..32767): unbounded growth (up to 3x per nibble)
        // would overflow 32-bit arithmetic into wrapped-but-wrong
        // deltas — the clamp keeps every intermediate exact and
        // oracle-replayable
        delta(c0) = math.max(16, math.min(32767, MsAdapt(nib) * delta(c0) / 256))
        nibIdx += 1
      }
      off += bl
    }
    out
  }

  /** Parsed-and-bounds-checked decode view: everything [[parse]] and
    * [[envelopeHash]] share — the RIFF walk, the layout checks, and the
    * per-codec linear-sample accessor — so the statistics pass and the
    * perceptual hash can never decode differently. IMA ADPCM (tag
    * 0x11) decodes its blocks eagerly (the codec is sequential-state;
    * random access needs the materialized samples), bounded by the
    * same data-size guard.
    */
  private final class View(val tag: Long, val rate: Long, val ch: Long,
                           val bits: Long, dataOff: Int, val n: Int,
                           b: Array[Byte],
                           dec: Array[Short] = null) {
    def at(k: Int): Long =
      if (tag == 1L) le16(b, dataOff + 2 * k).toShort.toLong
      else if (tag == 7L) ulaw2linear(b(dataOff + k) & 0xFF).toLong
      else if (tag == 0x11L || tag == 2L || tag == TagFlac) dec(k).toLong
      else alaw2linear(b(dataOff + k) & 0xFF).toLong
  }

  private def view(b: Array[Byte]): View = {
    if (b == null || b.length < 12) return null
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
      // FLAC (round 17 — the archival lossless format): the fixed-
      // predictor subset reconstructs exact PCM-16, so stats and the
      // envelope hash see through the compression via the same View
      val d = FlacKernel.decode(b)
      if (d == null) return null
      return new View(TagFlac, d.rate, d.ch.toLong, 16L, 0,
        d.samples.length, b, d.samples)
    }
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return null
    var tag = -1L; var rate = -1L; var ch = -1L; var bits = -1L
    var blockAlign = -1L
    var dataOff = -1; var dataLen = -1L
    var i = 12
    while (i + 8 <= b.length && (rate < 0L || dataOff < 0)) {
      val size = le32(b, i + 4)
      if (size < 0L || size > Int.MaxValue - 9L) return null
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' &&
        b(i + 3) == ' ') {
        if (size < 16L || i + 8 + 16 > b.length) return null
        tag = le16(b, i + 8)
        ch = le16(b, i + 10)
        rate = le32(b, i + 12)
        blockAlign = le16(b, i + 20)
        bits = le16(b, i + 22)
        if (ch == 0L || rate == 0L) return null
        // linear PCM-16, G.711 A-law (6) / mu-law (7), IMA/DVI ADPCM
        // (0x11 — mono round 16, stereo round 17), and MS-ADPCM
        // (0x02 mono/stereo, round 17) only
        if (!((tag == 1L && bits == 16L) ||
          ((tag == 6L || tag == 7L) && bits == 8L) ||
          (tag == 0x11L && bits == 4L && (ch == 1L || ch == 2L)) ||
          (tag == 2L && bits == 4L && (ch == 1L || ch == 2L)))) return null
      } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' &&
        b(i + 3) == 'a') {
        dataOff = i + 8
        dataLen = size
      }
      // advance in LONG (the AudioHeaderKernel overflow lesson): an
      // adversarial ~2 GB declared size must yield NULL, never a
      // negative index and a thrown exception
      val next = i.toLong + 8L + size + (size & 1L) // chunks pad to even
      if (next > Int.MaxValue) return null
      i = next.toInt
    }
    if (rate < 0L || dataOff < 0) return null
    if (dataLen > MaxDataBytes) return null // decode-bomb guard
    if (dataOff + dataLen > b.length) return null // mid-data truncation
    if (tag == 0x11L) {
      val dec =
        if (ch == 2L) imaDecodeStereo(b, dataOff, dataLen.toInt, blockAlign.toInt)
        else imaDecode(b, dataOff, dataLen.toInt, blockAlign.toInt)
      if (dec == null) return null
      return new View(tag, rate, ch, bits, dataOff, dec.length, b, dec)
    }
    if (tag == 2L) {
      val dec = msDecode(b, dataOff, dataLen.toInt, blockAlign.toInt, ch.toInt)
      if (dec == null) return null
      return new View(tag, rate, ch, bits, dataOff, dec.length, b, dec)
    }
    val bps = if (tag == 1L) 2 else 1
    if (dataLen % (bps.toLong * ch) != 0L) return null // frame alignment
    new View(tag, rate, ch, bits, dataOff, (dataLen / bps).toInt, b)
  }

  /** @return InternalRow(codec, sample_rate, channels, bits, n_samples,
    * duration_ms, sum_q, sq_sum, n_clipped, lead_silence,
    * trail_silence) or null.
    */
  def parse(b: Array[Byte]): InternalRow = {
    val v0 = view(b)
    if (v0 == null) return null
    val tag = v0.tag; val rate = v0.rate; val ch = v0.ch
    val bits = v0.bits; val n = v0.n
    def at(k: Int): Long = v0.at(k)
    val (railHi, railLo) =
      if (tag == 1L || tag == 0x11L || tag == 2L || tag == TagFlac)
        (32767L, -32768L)
      else if (tag == 7L) (32124L, -32124L)
      else (32256L, -32256L)
    // ONE decode pass: sums, clip rails, and the first/last non-silent
    // indices (the edge-silence runs fall out of those — no re-decode)
    var s = 0L; var sq = 0L; var clipped = 0L
    var firstLoud = -1; var lastLoud = -1
    var k = 0
    while (k < n) {
      val v = at(k)
      s += v; sq += v * v
      if (v == railHi || v == railLo) clipped += 1L
      if (v < -SilenceThreshold || v > SilenceThreshold) {
        if (firstLoud < 0) firstLoud = k
        lastLoud = k
      }
      k += 1
    }
    // an ALL-silent stream reports n for both runs (documented)
    val lead = if (firstLoud < 0) n else firstLoud
    val trail = if (firstLoud < 0) n else n - 1 - lastLoud
    val codec =
      if (tag == 1L) CODEC_PCM16 else if (tag == 7L) CODEC_ULAW
      else if (tag == 0x11L) CODEC_IMA
      else if (tag == 2L) CODEC_MS
      else if (tag == TagFlac) CODEC_FLAC
      else CODEC_ALAW
    InternalRow(codec, rate, ch, bits, n.toLong,
      (n / ch) * 1000L / rate, s, sq, clipped, lead.toLong, trail.toLong)
  }

  /** 64-bit ENERGY-ENVELOPE sign hash — the image dHash idea on the
    * time axis, for perceptual audio dedup: decode to linear samples
    * (same codecs, framing, and bounds checks as [[parse]] — one shared
    * [[View]]), partition the N samples into 65 windows by the integer
    * cell rule w = ⌊65·k/N⌋ (Long arithmetic — the resizeGrid overflow
    * lesson), sum ABSOLUTE amplitude per window, bit t = e(t+1) > e(t).
    * Integer-exact and oracle-replayable. Re-encodes of the same
    * signal hash identically when they decode to the same linear
    * samples (a G.711 stream and the PCM-16 transcode of its
    * expansion), and any uniform amplitude scaling preserves every
    * comparison. NULL on corrupt/unsupported payloads or N < 65 —
    * an empty window has no energy to compare.
    */
  def envelopeHash(b: Array[Byte]): java.lang.Long = {
    val v = view(b)
    if (v == null || v.n < 65) return null
    val n = v.n
    val e = new Array[Long](65)
    var k = 0
    while (k < n) {
      e((65L * k / n).toInt) += math.abs(v.at(k))
      k += 1
    }
    var h = 0L
    var t = 0
    while (t < 64) {
      if (e(t + 1) > e(t)) h |= 1L << t
      t += 1
    }
    java.lang.Long.valueOf(h)
  }
}
