package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codec-free media HEADER decode — the (format, width, height,
  * bit_depth, orientation) read a multimodal training pipeline filters
  * on (resolution gates, aspect-ratio gates, format allowlists, the
  * EXIF rotation correction) BEFORE any pixel work. Pure byte
  * arithmetic over the container headers of the six ubiquitous image
  * formats (PNG, GIF, JPEG, WebP, BMP, TIFF — WebP/BMP/TIFF documented
  * at their parse methods); no codec libraries:
  *
  *  - PNG (ISO/IEC 15948 §5.2/§11.2.2): 8-byte signature
  *    89 50 4E 47 0D 0A 1A 0A, then the IHDR chunk (length must be 13,
  *    type "IHDR"): width/height as big-endian uint31 (zero is invalid
  *    per spec → corrupt), bit depth one byte. The full 13-byte IHDR
  *    data must be present; the CRC is not required (a filter gate
  *    reads dimensions, it does not verify payloads).
  *  - GIF (GIF87a/89a spec, Logical Screen Descriptor): 6-byte magic
  *    "GIF87a"/"GIF89a", width/height LITTLE-endian uint16 (zero →
  *    corrupt), bit_depth = (packed & 0x07) + 1 — the global-color-
  *    table size exponent, i.e. bits per palette index.
  *  - JPEG (ITU-T T.81 §B): SOI FF D8, then a marker walk — fill bytes
  *    (FF) skipped, standalone markers (01, D0–D9) consumed without a
  *    length, every other segment skipped by its big-endian length
  *    (which includes the length field itself, so must be ≥ 2) — until
  *    a frame header SOFn (C0–CF minus C4 DHT / C8 JPG / CC DAC):
  *    bit_depth = sample precision, height/width big-endian uint16.
  *    Height 0 (DNL-deferred) → corrupt for gate purposes; EOI or
  *    truncation before any SOF → corrupt.
  *
  * Corrupt/truncated/unknown-magic payloads return NULL — loud in the
  * output (a gate sees NULL and routes the doc to quarantine), never a
  * wrong dimension. Every branch re-checks remaining length before
  * reading, so adversarial truncation cannot over-read.
  */
object MediaHeaderKernel {

  /** Result type of [[parse]]. */
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("bit_depth", LongType, nullable = false),
    StructField("orientation", LongType, nullable = false)))

  private val FORMAT_PNG = UTF8String.fromString("png")
  private val FORMAT_GIF = UTF8String.fromString("gif")
  private val FORMAT_JPEG = UTF8String.fromString("jpeg")
  private val FORMAT_WEBP = UTF8String.fromString("webp")
  private val FORMAT_BMP = UTF8String.fromString("bmp")

  private val FORMAT_TIFF = UTF8String.fromString("tiff")

  /** @return InternalRow(format, width, height, bit_depth, orientation)
    * or null. Orientation is the EXIF/TIFF tag-274 value (1..8; 1 =
    * upright) — read from TIFF IFD0 and from JPEG's APP1 Exif block;
    * the formats that carry no header-level orientation (PNG, GIF,
    * WebP, BMP) report the identity 1.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) == 0x89 && b(1) == 0x50) parsePng(b)
    else if (b(0) == 0x47 && b(1) == 0x49) parseGif(b)
    else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) parseJpeg(b)
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
      parseWebp(b)
    else if (b(0) == 'B' && b(1) == 'M') parseBmp(b)
    else if ((b(0) == 'I' && b(1) == 'I' && (b(2) & 0xFF) == 0x2A &&
      b(3) == 0) ||
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && (b(3) & 0xFF) == 0x2A))
      parseTiff(b)
    else null
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  private def be16(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 8) | (b(i + 1) & 0xFFL)

  private def le16(b: Array[Byte], i: Int): Long =
    ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private val PNG_SIG =
    Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  private def parsePng(b: Array[Byte]): InternalRow = {
    // signature(8) + IHDR length(4) + "IHDR"(4) + the 13 IHDR data
    // bytes (w4 h4 depth1 color1 compression1 filter1 interlace1) = 29
    if (b.length < 29) return null
    var i = 0
    while (i < 8) { if (u8(b, i) != PNG_SIG(i)) return null; i += 1 }
    if (be32(b, 8) != 13L) return null // IHDR data length is fixed at 13
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return null
    val w = be32(b, 16)
    val h = be32(b, 20)
    // uint31 per spec; zero invalid; high bit set = out of domain
    if (w <= 0L || h <= 0L || w > 0x7FFFFFFFL || h > 0x7FFFFFFFL)
      return null
    InternalRow(FORMAT_PNG, w, h, u8(b, 24).toLong, 1L)
  }

  private def parseGif(b: Array[Byte]): InternalRow = {
    // magic(6) + LSD(7: w2 h2 packed1 bg1 aspect1) = 13
    if (b.length < 13) return null
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
      (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w == 0L || h == 0L) return null
    InternalRow(FORMAT_GIF, w, h, (u8(b, 10) & 0x07).toLong + 1L, 1L)
  }

  private def le24(b: Array[Byte], i: Int): Long =
    ((b(i + 2) & 0xFFL) << 16) | ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  /** WebP (RIFF container, "WEBP" form type, first chunk dispatched):
    *  - "VP8 " lossy (RFC 6386 §9.1): 3-byte frame tag, start code
    *    9D 01 2A, then width/height as the LOW 14 BITS of two LE
    *    uint16s (the high 2 bits are scale hints);
    *  - "VP8L" lossless (the public VP8L bitstream spec): 0x2F
    *    signature, then one LE uint32 bitfield — width−1 in bits 0..13,
    *    height−1 in bits 14..27;
    *  - "VP8X" extended: flags(1) + reserved(3), then canvas
    *    width−1/height−1 as LE uint24s.
    * All three carry 8-bit samples → bit_depth 8.
    */
  private def parseWebp(b: Array[Byte]): InternalRow = {
    if (b.length < 20) return null
    if (b(8) != 'W' || b(9) != 'E' || b(10) != 'B' || b(11) != 'P')
      return null
    val f0 = b(12); val f1 = b(13); val f2 = b(14); val f3 = b(15)
    if (f0 == 'V' && f1 == 'P' && f2 == '8' && f3 == ' ') {
      // payload at 20: tag(3) 9D 01 2A w(2LE) h(2LE)
      if (b.length < 30) return null
      if ((b(23) & 0xFF) != 0x9D || (b(24) & 0xFF) != 0x01 ||
        (b(25) & 0xFF) != 0x2A) return null
      val w = le16(b, 26) & 0x3FFFL
      val h = le16(b, 28) & 0x3FFFL
      if (w == 0L || h == 0L) return null
      InternalRow(FORMAT_WEBP, w, h, 8L, 1L)
    } else if (f0 == 'V' && f1 == 'P' && f2 == '8' && f3 == 'L') {
      if (b.length < 25) return null
      if ((b(20) & 0xFF) != 0x2F) return null
      val bits = le32(b, 21)
      InternalRow(FORMAT_WEBP, (bits & 0x3FFFL) + 1L,
        ((bits >> 14) & 0x3FFFL) + 1L, 8L, 1L)
    } else if (f0 == 'V' && f1 == 'P' && f2 == '8' && f3 == 'X') {
      if (b.length < 30) return null
      InternalRow(FORMAT_WEBP, le24(b, 24) + 1L, le24(b, 27) + 1L, 8L, 1L)
    } else null
  }

  /** BMP: "BM" file header (14 bytes) then the DIB header — sized 12
    * (BITMAPCOREHEADER: uint16 dims, bpp at 24) or ≥ 40
    * (BITMAPINFOHEADER+: int32 dims at 18/22 — height NEGATIVE means
    * top-down rows, reported as |height|; width ≤ 0 or height 0 →
    * corrupt — and bpp at 28).
    */
  private def parseBmp(b: Array[Byte]): InternalRow = {
    if (b.length < 26) return null
    val dib = le32(b, 14)
    if (dib == 12L) {
      val w = le16(b, 18)
      val h = le16(b, 20)
      if (w == 0L || h == 0L) return null
      InternalRow(FORMAT_BMP, w, h, le16(b, 24), 1L)
    } else if (dib >= 40L) {
      if (b.length < 30) return null
      val w = le32(b, 18).toInt.toLong // sign-extend int32
      val h = le32(b, 22).toInt.toLong
      if (w <= 0L || h == 0L) return null
      InternalRow(FORMAT_BMP, w, math.abs(h), le16(b, 28), 1L)
    } else null
  }

  private def parseJpeg(b: Array[Byte]): InternalRow = {
    val n = b.length
    var i = 2 // past SOI
    // EXIF orientation rides in APP1 ("Exif\0\0" + an embedded TIFF
    // block, read by the same IFD walk as standalone TIFF). It is
    // AUXILIARY metadata: a malformed Exif block falls back to the
    // identity 1 and never kills the dimension parse.
    var orientation = 1L
    while (i + 1 < n) {
      if (u8(b, i) != 0xFF) return null // marker must start FF
      var j = i
      while (j + 1 < n && u8(b, j + 1) == 0xFF) j += 1 // fill bytes
      if (j + 1 >= n) return null
      val m = u8(b, j + 1)
      if (m == 0xD9) return null // EOI before any SOF
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) {
        i = j + 2 // standalone marker, no length
      } else if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 &&
        m != 0xCC) {
        // SOFn: len(2) precision(1) height(2) width(2)
        if (j + 9 > n) return null
        if (be16(b, j + 2) < 8L) return null // len covers itself + 7
        val h = be16(b, j + 5)
        val w = be16(b, j + 7)
        if (w == 0L || h == 0L) return null // h=0 means DNL-deferred
        return InternalRow(FORMAT_JPEG, w, h, u8(b, j + 4).toLong,
          orientation)
      } else {
        if (j + 4 > n) return null
        val len = be16(b, j + 2)
        if (len < 2L) return null // length includes its own 2 bytes
        if (m == 0xE1 && len >= 10L && j + 2 + len <= n &&
          b(j + 4) == 'E' && b(j + 5) == 'x' && b(j + 6) == 'i' &&
          b(j + 7) == 'f' && b(j + 8) == 0 && b(j + 9) == 0) {
          // embedded TIFF header at j+10; offsets inside the block are
          // relative to that header — pass the block's end bound
          orientation = tiffOrientation(b, j + 10, j + 2 + len.toInt)
        }
        i = j + 2 + len.toInt
      }
    }
    null // ran off the end without a frame header
  }

  // ----------------------------------------------------------- TIFF/EXIF

  private def u16e(b: Array[Byte], i: Int, le: Boolean): Long =
    if (le) le16(b, i) else be16(b, i)

  private def u32e(b: Array[Byte], i: Int, le: Boolean): Long =
    if (le) le32(b, i) else be32(b, i)

  /** One IFD0 entry's first value (SHORT type 3 / LONG type 4). TIFF 6.0
    * §2: values ≤ 4 bytes are stored INLINE, LEFT-justified in the
    * 4-byte value field (so a SHORT reads from the field's first two
    * bytes in either endianness); larger counts store an offset from the
    * TIFF header at `t0`. Returns −1 on anything unreadable.
    */
  private def entryValue(b: Array[Byte], t0: Int, e: Int, end: Int,
                         le: Boolean): Long = {
    val typ = u16e(b, e + 2, le)
    val cnt = u32e(b, e + 4, le)
    if (cnt < 1L) return -1L
    if (typ == 3L) { // SHORT
      if (cnt == 1L || cnt == 2L) u16e(b, e + 8, le)
      else {
        val off = u32e(b, e + 8, le)
        if (off < 0L || t0 + off + 2L > end) -1L
        else u16e(b, (t0 + off).toInt, le)
      }
    } else if (typ == 4L) { // LONG
      if (cnt == 1L) u32e(b, e + 8, le)
      else {
        val off = u32e(b, e + 8, le)
        if (off < 0L || t0 + off + 4L > end) -1L
        else u32e(b, (t0 + off).toInt, le)
      }
    } else -1L
  }

  /** Walk IFD0 of the TIFF structure whose header starts at t0 (bounded
    * by `end`), returning (width, height, bits, orientation) — −1 where
    * a tag is absent/unreadable. Entries are 12 bytes: tag(2) type(2)
    * count(4) value(4).
    */
  private def tiffIfd0(b: Array[Byte], t0: Int, end: Int)
  : (Long, Long, Long, Long) = {
    val bad = (-1L, -1L, -1L, -1L)
    if (t0 + 8 > end) return bad
    val le = b(t0) == 'I'
    if (u16e(b, t0 + 2, le) != 0x2AL) return bad
    val ifd = u32e(b, t0 + 4, le)
    if (ifd < 8L || t0 + ifd + 2L > end) return bad
    val i0 = (t0 + ifd).toInt
    val cnt = u16e(b, i0, le)
    if (cnt < 1L || cnt > 4096L || i0 + 2 + cnt * 12L > end) return bad
    var w = -1L; var h = -1L; var bits = -1L; var o = -1L
    var k = 0
    while (k < cnt) {
      val e = i0 + 2 + k * 12
      u16e(b, e, le) match {
        case 256L => w = entryValue(b, t0, e, end, le) // ImageWidth
        case 257L => h = entryValue(b, t0, e, end, le) // ImageLength
        case 258L => bits = entryValue(b, t0, e, end, le) // BitsPerSample
        case 274L => o = entryValue(b, t0, e, end, le) // Orientation
        case _ =>
      }
      k += 1
    }
    (w, h, bits, o)
  }

  /** Orientation (1..8) out of an embedded Exif TIFF block — 1 on
    * absence or ANY malformation (auxiliary metadata, never fatal).
    */
  private def tiffOrientation(b: Array[Byte], t0: Int, end: Int): Long = {
    if (t0 + 4 > end) return 1L
    val okMagic = (b(t0) == 'I' && b(t0 + 1) == 'I') ||
      (b(t0) == 'M' && b(t0 + 1) == 'M')
    if (!okMagic) return 1L
    val o = tiffIfd0(b, t0, end)._4
    if (o >= 1L && o <= 8L) o else 1L
  }

  /** Standalone TIFF (TIFF 6.0 §2: "II"+42LE or "MM"+42BE, IFD0 walk):
    * width tag 256, height tag 257 (SHORT or LONG — both appear in the
    * wild), BitsPerSample tag 258 (defaults to 1 per spec when absent;
    * count > 1 reads the first sample's bits via the value offset),
    * orientation tag 274 (1..8; defaults to 1; an OUT-OF-DOMAIN value
    * on a standalone TIFF is corrupt → NULL — unlike JPEG's auxiliary
    * Exif, here the IFD IS the primary header). Missing/zero/oversized
    * dimensions → NULL.
    */
  private def parseTiff(b: Array[Byte]): InternalRow = {
    if (b.length < 8) return null
    val (w, h, bits, o) = tiffIfd0(b, 0, b.length)
    if (w <= 0L || h <= 0L || w > 0x7FFFFFFFL || h > 0x7FFFFFFFL)
      return null
    if (o != -1L && (o < 1L || o > 8L)) return null
    InternalRow(FORMAT_TIFF, w, h, if (bits == -1L) 1L else bits,
      if (o == -1L) 1L else o)
  }
}

/** AUDIO header decode — the audio twin of [[MediaHeaderKernel]] (a
  * separate kernel because audio metadata is differently shaped:
  * sample rate / channels / bits, not width / height):
  *
  *  - WAV (RIFF "WAVE", the canonical PCM layout with the "fmt "
  *    chunk first): channels LE16 at fmt+2, sample rate LE32 at
  *    fmt+4, bits per sample LE16 at fmt+14;
  *  - FLAC ("fLaC" magic, STREAMINFO is mandatorily the FIRST
  *    metadata block): sample rate = 20 bits starting at STREAMINFO
  *    byte 10, then channels−1 (3 bits), bits-per-sample−1 (5 bits)
  *    — big-endian bit packing per the public FLAC format spec.
  *
  * Zero sample rate / channels / bits-per-sample (WAV also: fmt
  * audio-format tag 0) → corrupt → NULL, loud not wrong.
  */
object AudioHeaderKernel {

  /** Result type of [[parse]]. */
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("bits", LongType, nullable = false)))

  private val FORMAT_WAV = UTF8String.fromString("wav")
  private val FORMAT_FLAC = UTF8String.fromString("flac")

  /** @return InternalRow(format, sample_rate, channels, bits) or null. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
      parseWav(b)
    else if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      parseFlac(b)
    else null
  }

  private def le16(b: Array[Byte], i: Int): Long =
    ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def parseWav(b: Array[Byte]): InternalRow = {
    // RIFF(4) size(4) WAVE(4) then chunks; walk to "fmt " by each
    // chunk's LE32 size (truncation-safe: every read re-checked)
    if (b.length < 12) return null
    if (b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return null
    var i = 12
    while (i + 8 <= b.length) {
      val size = le32(b, i + 4)
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' &&
        b(i + 3) == ' ') {
        if (size < 16L || i + 8 + 16 > b.length) return null
        val tag = le16(b, i + 8)
        val ch = le16(b, i + 10)
        val rate = le32(b, i + 12)
        val bits = le16(b, i + 22)
        // corrupt → NULL, loud not wrong: a zeroed fmt chunk (format
        // tag 0, zero channels/rate/bits) must quarantine, never
        // report 0-valued audio metadata
        if (tag == 0L || ch == 0L || rate == 0L || bits == 0L) return null
        return InternalRow(FORMAT_WAV, rate, ch, bits)
      }
      if (size < 0L || size > Int.MaxValue - 9L) return null
      // advance in LONG: an adversarial ~2 GB declared size would
      // overflow an Int advance into a NEGATIVE index (a thrown
      // ArrayIndexOutOfBounds kills the whole job at scale — corrupt
      // input must return NULL, never throw)
      val next = i.toLong + 8L + size + (size & 1L) // chunks pad to even
      if (next > Int.MaxValue) return null
      i = next.toInt
    }
    null
  }

  private def parseFlac(b: Array[Byte]): InternalRow = {
    // fLaC(4) blockHeader(4: last|type(1) len(3BE)) STREAMINFO(34):
    // bytes 10..12 carry rate(20 bits) + channels-1(3) + bps-1(5 over
    // the boundary into byte 13)
    if (b.length < 22) return null
    if ((b(4) & 0x7F) != 0) return null // first block must be STREAMINFO
    val o = 8 // STREAMINFO payload start
    val rate = ((b(o + 10) & 0xFFL) << 12) | ((b(o + 11) & 0xFFL) << 4) |
      ((b(o + 12) & 0xF0L) >> 4)
    val ch = ((b(o + 12) >> 1) & 0x07L) + 1L
    val bits = (((b(o + 12) & 0x01L) << 4) | ((b(o + 13) & 0xF0L) >> 4)) + 1L
    if (rate == 0L) return null
    InternalRow(FORMAT_FLAC, rate, ch, bits)
  }
}
