package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codec-free PIXEL decode — real per-pixel statistics for the three
  * image containers whose pixel data needs NO external codec jars:
  *
  *  - PNG (ISO/IEC 15948): IDAT is zlib (RFC 1950/1951) — the JDK
  *    ships the decompressor (`java.util.zip.Inflater`) — followed by
  *    the per-scanline filter inversion (§9: types 0 None, 1 Sub,
  *    2 Up, 3 Average, 4 Paeth). Supported pixel layouts: bit depths
  *    8 AND 16 (round 16 — 16-bit big-endian samples reduce to their
  *    high byte, v >> 8: deterministic and oracle-replayable), color
  *    types 0 (grayscale), 2 (truecolor RGB), 3 (palette — PLTE
  *    lookup, out-of-range indices NULL, depth 8 only per §11.2.2),
  *    4 (gray+alpha) and 6 (RGBA) — alpha is IGNORED for luminance
  *    (compositing would need a background choice; statistics must be
  *    deterministic), the GIF transparency convention — and BOTH
  *    interlace methods (round 16: Adam7's seven passes reconstruct
  *    per pass and scatter through the §8.2 pixel permutation; the
  *    non-interlaced image is the degenerate single pass). Sub-byte
  *    depths 1/2/4 (gray and palette, §11.2.2's legal combinations)
  *    unpack MSB-first with the spec's v·255/(2^d−1) gray value
  *    mapping (round 16) — the FULL PNG layout matrix decodes.
  *  - BMP (BITMAPINFOHEADER, biBitCount 24, BI_RGB): pixel rows are
  *    RAW BGR triples, 4-byte-aligned stride, bottom-up when biHeight
  *    is positive (top-down when negative). No decompression at all.
  *  - GIF (GIF89a incl. the spec-appendix LZW — variable-width codes,
  *    clear/EOI handling, the KwKwK self-referential entry, deferred
  *    clear, 4-pass interlace inversion): the full table decode is
  *    ~60 lines of integer arithmetic, validated against the JDK's
  *    own GIF encoder's genuinely compressed streams.
  *
  * JPEG/WebP pixel data is DCT/VP8-coded — JPEG decode rides the JDK's
  * own ImageIO plugin in [[graft.operators.Multimodal]]; WebP ships no
  * JDK decoder, so its pixels stay undecodable here (headers are real,
  * [[MediaHeaderKernel]]) and WebP payloads route to NULL like any
  * unsupported layout.
  *
  * Emitted statistics (all integer — oracle-replayable exactly):
  *
  *  - `lum` per pixel: the MILLI-scaled integer luminance
  *    299·R + 587·G + 114·B (the classic BT.601 weights ×1000, kept
  *    integer). Grayscale v ⇒ 1000·v — the same scale, so gray and
  *    RGB statistics are directly comparable.
  *  - `lum_sum`, `lum_sq_sum`: Σ lum and Σ lum² over all pixels.
  *  - `lum_hist`: 8 luminance-octant counts, bucket = (lum/1000) >> 5.
  *  - `dhash`: the 64-bit difference hash — luminance averaged over a
  *    9-wide × 8-tall cell grid (pixel x lands in column ⌊9x/W⌋, row
  *    ⌊8y/H⌋ — y counts VISUAL rows, top-down, so bottom-up BMP rows
  *    are re-ordered), cell average = ⌊Σlum / count⌋, and bit
  *    (cy·8 + cx) set iff avg(cx+1, cy) > avg(cx, cy). NULL when
  *    W < 9 or H < 8 (the grid is undefined), never a made-up value.
  *
  * Corrupt, truncated, or unsupported payloads → NULL struct (the
  * gate quarantines). Decode-bomb guard: a header advertising more
  * than 2^26 bytes of raw pixel data returns NULL rather than
  * allocating — at 100 TB an adversarial IHDR must not OOM an
  * executor (real deployments would tile/stream such images; a
  * filter-gate has no business decoding them inline).
  */
object PixelKernel {

  /** Result type of [[parse]]. */
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("lum_sum", LongType, nullable = false),
    StructField("lum_sq_sum", LongType, nullable = false),
    StructField("dhash", LongType, nullable = true),
    StructField("lum_hist", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Decoded pixel statistics — consumed by [[parse]] and by
    * [[graft.operators.Multimodal]]'s mapPartitions
    * feature pass.
    */
  final case class Stats(format: String, width: Int, height: Int,
                         channels: Int, lumSum: Long, lumSqSum: Long,
                         dhash: Option[Long], hist: Array[Long])

  /** A decoded image as a luminance ACCESSOR (x, visual-row y →
    * milli-luminance) — the shared substrate of the stats pass and the
    * box-resize kernel, so both consume pixels under one definition
    * without materializing a second buffer.
    */
  private[graft] final case class LumView(format: String, width: Int,
                                          height: Int, channels: Int,
                                          lum: (Int, Int) => Long)

  /** Raw-pixel-size cap (bytes): 64 MiB. */
  private val MaxRawBytes = 1L << 26

  /** Decode to the luminance view — null on corrupt / unsupported.
    * JPEG is native as of round 15 ([[JpegKernel]] — baseline
    * sequential with the PINNED fixed-point IDCT; PROGRESSIVE joined
    * in round 16); only arithmetic-coded / 12-bit / CMYK JPEGs still
    * return null here and ride the ImageIO fallback in the
    * mapPartitions feature pass.
    */
  private[graft] def view(b: Array[Byte]): LumView = {
    if (b == null || b.length < 4) return null
    // try/NonFatal: the never-throw contract (corrupt bytes quarantine
    // as NULL, they never fail the task) must hold even for a walker
    // bug on adversarial input — JpegKernel.decode wraps itself the
    // same way.
    try {
      if ((b(0) & 0xFF) == 0x89 && b(1) == 0x50) decodePng(b)
      else if (b(0) == 'B' && b(1) == 'M') decodeBmp(b)
      else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') decodeGif(b)
      else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8)
        JpegKernel.decode(b)
      else null
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  def decode(b: Array[Byte]): Stats = {
    val v = view(b)
    if (v == null) null
    else stats(v.format, v.width, v.height, v.channels, v.lum)
  }

  /** BOX-FILTER downscale to a tw×th grid: output cell (cx, cy) is the
    * FLOOR-average milli-luminance of the source pixels whose indices
    * land in it (x ∈ cell ⌊tw·x/W⌋, y ∈ cell ⌊th·y/H⌋ — the same
    * integer cell partition as the dHash grid, so the oracle replays
    * it with plain division). Row-major (cy·tw + cx). Downscale only:
    * tw/th must be in [1, W]/[1, H] — an UPSCALE would leave empty
    * cells (no pixel maps into them), so it returns null rather than
    * invent samples.
    */
  private[graft] def resizeGrid(w: Int, h: Int, tw: Int, th: Int,
                                lum: (Int, Int) => Long): Array[Long] = {
    if (tw < 1 || th < 1 || tw > w || th > h) return null
    val sum = new Array[Long](tw * th)
    val cnt = new Array[Long](tw * th)
    var y = 0
    while (y < h) {
      // Long arithmetic: a degenerate-aspect image (e.g. 1×2^24) with a
      // target dim >~128 overflows th*y in Int, yielding a negative cell
      // index — the kernel must return a value or null, never throw.
      val cy = (th.toLong * y / h).toInt
      var x = 0
      while (x < w) {
        val c = cy * tw + (tw.toLong * x / w).toInt
        sum(c) += lum(x, y); cnt(c) += 1L
        x += 1
      }
      y += 1
    }
    Array.tabulate(tw * th)(i => sum(i) / cnt(i))
  }

  /** [[resizeGrid]] over a decodable payload — null on corrupt /
    * unsupported bytes or an upscale request.
    */
  def resizeBox(b: Array[Byte], tw: Int, th: Int): Array[Long] = {
    val v = view(b)
    if (v == null) null
    else resizeGrid(v.width, v.height, tw, th, v.lum)
  }

  /** [[resizeBox]] as an ARRAY<BIGINT> column value. */
  def resize(b: Array[Byte], tw: Int, th: Int): ArrayData = {
    val g = resizeBox(b, tw, th)
    if (g == null) null else new GenericArrayData(g)
  }

  /** [[decode]] shaped as a [[Schema]] row. */
  def parse(b: Array[Byte]): InternalRow = {
    val s = decode(b)
    if (s == null) null
    else InternalRow(UTF8String.fromString(s.format), s.width.toLong,
      s.height.toLong, s.channels.toLong, s.width.toLong * s.height,
      s.lumSum, s.lumSqSum,
      s.dhash.map(Long.box).orNull, new GenericArrayData(s.hist))
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def le16(b: Array[Byte], i: Int): Long =
    ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private val PNG_SIG =
    Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  // ------------------------------------------------------------------ PNG

  /** Adam7 pass origins and strides (§8.2): (x0, y0, dx, dy). The
    * non-interlaced image is the degenerate single pass (0,0,1,1), so
    * one reconstruction path serves both layouts.
    */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
  private val SinglePass: Array[(Int, Int, Int, Int)] =
    Array((0, 0, 1, 1))

  private def decodePng(b: Array[Byte]): LumView = {
    if (b.length < 33) return null
    var i = 0
    while (i < 8) { if (u8(b, i) != PNG_SIG(i)) return null; i += 1 }
    if (be32(b, 8) != 13L) return null
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return null
    val w = be32(b, 16)
    val h = be32(b, 20)
    if (w <= 0L || h <= 0L || w > 0x7FFFFFFFL || h > 0x7FFFFFFFL)
      return null
    // Early dimension cap BEFORE any products: w > MaxRawBytes implies
    // w*h*samples > MaxRawBytes and h > MaxRawBytes implies
    // rawLen >= h > MaxRawBytes, so rejecting here is value-identical
    // to the guards below — but with w, h <= 2^26 every product those
    // guards compute stays far inside Long range (a crafted
    // 0x7FFFFFFF x 0x7FFFFFFF IHDR would otherwise wrap both rawLen
    // and w*h*samples negative and slip past them).
    if (w > MaxRawBytes || h > MaxRawBytes) return null
    val depth = u8(b, 24)
    val colorType = u8(b, 25)
    val interlace = u8(b, 28)
    // compression(26)=0, filter(27)=0 — §11.2.2; depth 8 or 16
    // (round 16 — 16-bit samples reduce to their HIGH byte, v >> 8:
    // deterministic, scale-preserving, oracle-replayable) or SUB-BYTE
    // 1/2/4 for grayscale and palette (round 16 — gray samples scale
    // by 255/(2^d−1), the spec's value mapping; palette samples are
    // indices); interlace 0 (none) or 1 (Adam7, round 16)
    if ((depth != 1 && depth != 2 && depth != 4 && depth != 8 &&
      depth != 16) || u8(b, 26) != 0 || u8(b, 27) != 0 ||
      interlace > 1) return null
    if (depth == 16 && colorType == 3) return null // §11.2.2 forbids
    if (depth < 8 && colorType != 0 && colorType != 3) return null
    // samples per pixel by color type (§11.2.2): 0 grayscale,
    // 2 truecolor, 3 palette index, 4 gray+alpha, 6 RGBA. Alpha is
    // IGNORED for luminance (compositing would need a background
    // choice; the statistics must be deterministic) — same contract as
    // GIF's transparency flag.
    val samples = colorType match {
      case 0 => 1
      case 2 => 3
      case 3 => 1
      case 4 => 2
      case 6 => 4
      case _ => return null
    }
    // the §9 filter unit: whole pixels at depth ≥ 8, ONE byte for
    // sub-byte depths (filters always operate on bytes)
    val bpp = if (depth >= 8) samples * (depth / 8) else 1
    def rowBytesOf(wp: Long): Long =
      if (depth >= 8) wp * bpp else (wp * depth + 7L) / 8L
    val passes = if (interlace == 0) SinglePass else Adam7
    var rawLen = 0L
    passes.foreach { case (x0, y0, dx, dy) =>
      val wp = if (w <= x0) 0L else (w - x0 + dx - 1) / dx
      val hp = if (h <= y0) 0L else (h - y0 + dy - 1) / dy
      if (wp > 0L && hp > 0L) rawLen += hp * (1L + rowBytesOf(wp))
    }
    if (rawLen == 0L || rawLen > MaxRawBytes ||
      w * h * samples > MaxRawBytes) return null // decode-bomb guard
    // chunk walk: capture PLTE, concatenate IDAT payloads until IEND
    val idat = new java.io.ByteArrayOutputStream()
    var off = 33
    var sawEnd = false
    var palOff = -1
    var palEntries = 0
    while (!sawEnd) {
      if (off + 8 > b.length) return null
      val len = be32(b, off)
      if (len < 0L || len > MaxRawBytes ||
        off + 12L + len > b.length) return null
      val t0 = b(off + 4); val t1 = b(off + 5)
      val t2 = b(off + 6); val t3 = b(off + 7)
      if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        idat.write(b, off + 8, len.toInt)
        if (idat.size() > MaxRawBytes) return null
      } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
        // §11.2.3: length a multiple of 3, 1..256 entries, before IDAT
        if (idat.size() > 0 || palOff >= 0) return null
        if (len == 0L || len % 3L != 0L || len > 768L) return null
        palOff = off + 8
        palEntries = (len / 3L).toInt
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        sawEnd = true
      }
      off += 12 + len.toInt // len + type + data + CRC (CRC not verified)
    }
    if (idat.size() == 0) return null
    if (colorType == 3 && palOff < 0) return null // PLTE is mandatory
    // inflate exactly rawLen bytes; anything short is truncation.
    // Trailer (Adler-32) verification is BEST-EFFORT: when the
    // decompressor reaches the checksum inside the final inflate call
    // (the common case), a mismatch throws and the payload quarantines;
    // if the expected byte count completes first, the loop exits
    // without certifying the trailer (a stats pass reads pixels, it
    // does not certify archives). Chunk CRCs are never verified.
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return null // truncated / preset-dictionary stream
        got += n
      }
      if (got < raw.length) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    // per-scanline filter inversion (§9) per PASS, in place — prior
    // rows within a pass read RECONSTRUCTED bytes, as the spec
    // requires — then SCATTER into a compact 8-bit sample buffer at
    // the pass's (x0 + i·dx, y0 + j·dy) pixel positions (the Adam7
    // inversion; the non-interlaced single pass scatters 1:1). For
    // depth 16 the scatter keeps each big-endian sample's FIRST byte —
    // the high-byte reduction.
    val wi = w.toInt; val hi = h.toInt
    val sampleBytes = if (depth == 16) 2 else 1
    // sub-byte gray scales to 8 bits by the spec's value mapping
    // v·255/(2^d−1) — exactly v·(255/(2^d−1)) since the factor is
    // integer for d ∈ {1,2,4}; palette samples stay raw indices
    val scale = if (depth >= 8 || colorType == 3) 1 else 255 / ((1 << depth) - 1)
    val out = new Array[Byte](wi * hi * samples)
    var base = 0
    passes.foreach { case (x0, y0, dx, dy) =>
      val wp = if (wi <= x0) 0 else (wi - x0 + dx - 1) / dx
      val hp = if (hi <= y0) 0 else (hi - y0 + dy - 1) / dy
      if (wp > 0 && hp > 0) {
        val rb = rowBytesOf(wp.toLong).toInt
        var j = 0
        while (j < hp) {
          val rowBase = base + j * (1 + rb)
          val f = u8(raw, rowBase)
          if (f > 4) return null
          var k = 0
          while (k < rb) {
            val cur = u8(raw, rowBase + 1 + k)
            val left = if (k >= bpp) u8(raw, rowBase + 1 + k - bpp) else 0
            val up = if (j > 0) u8(raw, rowBase - rb + k) else 0
            val ul =
              if (j > 0 && k >= bpp) u8(raw, rowBase - rb + k - bpp) else 0
            val v = f match {
              case 0 => cur
              case 1 => cur + left
              case 2 => cur + up
              case 3 => cur + ((left + up) >> 1)
              case 4 => cur + paeth(left, up, ul)
            }
            raw(rowBase + 1 + k) = (v & 0xFF).toByte
            k += 1
          }
          var ix = 0
          while (ix < wp) {
            val dst = ((y0 + j * dy) * wi + x0 + ix * dx) * samples
            if (depth >= 8) {
              var sm = 0
              while (sm < samples) {
                out(dst + sm) = raw(rowBase + 1 + ix * bpp + sm * sampleBytes)
                sm += 1
              }
            } else {
              // MSB-first bit unpacking (§7.2); trailing pad bits of
              // each scanline's last byte are never addressed
              val bitPos = ix * depth
              val v = (u8(raw, rowBase + 1 + (bitPos >> 3)) >>
                (8 - depth - (bitPos & 7))) & ((1 << depth) - 1)
              out(dst) = (v * scale).toByte
            }
            ix += 1
          }
          j += 1
        }
        base += hp * (1 + rb)
      }
    }
    // a palette index past the PLTE's last entry is corrupt (§11.2.3)
    // — validated UP FRONT so the lazy lum accessor can never read
    // outside the palette (NULL, never a wrong statistic or a throw)
    if (colorType == 3) {
      var p = 0
      while (p < out.length) {
        if (u8(out, p) >= palEntries) return null
        p += 1
      }
    }
    // reported channels: palette pixels DECODE to RGB (3, the GIF
    // convention); gray+alpha 2; RGBA 4
    val channels = colorType match {
      case 0 => 1
      case 3 => 3
      case 4 => 2
      case 6 => 4
      case _ => 3
    }
    LumView("png", wi, hi, channels, (x, yy) => {
      val p = (yy * wi + x) * samples
      colorType match {
        case 0 | 4 => 1000L * u8(out, p) // alpha (type 4) ignored
        case 3 =>
          val e = palOff + 3 * u8(out, p)
          299L * u8(b, e) + 587L * u8(b, e + 1) + 114L * u8(b, e + 2)
        case _ => // 2 and 6; alpha (type 6) ignored
          299L * u8(out, p) + 587L * u8(out, p + 1) + 114L * u8(out, p + 2)
      }
    })
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  // ------------------------------------------------------------------ BMP

  private def decodeBmp(b: Array[Byte]): LumView = {
    if (b.length < 54) return null
    val off = le32(b, 10)
    if (le32(b, 14) != 40L) return null // BITMAPINFOHEADER only
    val w = le32(b, 18).toInt
    val hSigned = le32(b, 22).toInt
    // Int.MinValue survives math.abs STILL NEGATIVE — it would slip
    // past every size guard below (negative stride·h) and return
    // garbage Stats instead of NULL (code-review r14 finding)
    if (w <= 0 || hSigned == 0 || hSigned == Int.MinValue) return null
    val h = math.abs(hSigned)
    val topDown = hSigned < 0
    if (le16(b, 28) != 24L) return null // 24bpp only
    if (le32(b, 30) != 0L) return null // BI_RGB (uncompressed) only
    val stride = ((w * 3L + 3L) / 4L) * 4L
    val need = off + stride * h
    if (stride * h > MaxRawBytes) return null // decode-bomb guard
    if (off < 54L || need > b.length) return null
    LumView("bmp", w, h, 3, (x, yVis) => {
      // yVis counts visual rows top-down; bottom-up files store the
      // top row LAST
      val row = if (topDown) yVis else h - 1 - yVis
      val p = (off + row * stride + x * 3L).toInt
      // BGR order on disk
      299L * u8(b, p + 2) + 587L * u8(b, p + 1) + 114L * u8(b, p)
    })
  }

  // ------------------------------------------------------------------ GIF

  /** GIF pixel decode (round 14 — LZW is fully specified in the public
    * GIF89a spec appendix; ~60 lines of table arithmetic, no codec
    * jars): logical screen descriptor, global/local color table, the
    * FIRST image descriptor (which must cover the full canvas at
    * (0,0) — animation composition is out of a stats gate's scope),
    * extension blocks skipped by their sub-block chain, then the LZW
    * stream: variable-width codes read LSB-first from concatenated
    * sub-blocks, dictionary as (prefix, suffix) arrays capped at 4096
    * (deferred-clear streams supported — the table just stops
    * growing), code width bumped when the next entry would not fit.
    * Interlaced frames (what the JDK's own encoder writes by default)
    * are de-interlaced by inverting the 4-pass row permutation.
    * Missing color table, out-of-range index, or an LZW stream that
    * ends before w·h pixels → NULL.
    */
  private def decodeGif(b: Array[Byte]): LumView = {
    if (b.length < 14) return null
    if (b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a')
      return null
    val w = le16(b, 6).toInt
    val h = le16(b, 8).toInt
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return null
    val packed = u8(b, 10)
    var pos = 13
    var table: Array[Int] = null // packed 0xRRGGBB per index
    def readTable(size: Int, at: Int): Array[Int] = {
      if (at + 3 * size > b.length) return null
      Array.tabulate(size)(i =>
        (u8(b, at + 3 * i) << 16) | (u8(b, at + 3 * i + 1) << 8) |
          u8(b, at + 3 * i + 2))
    }
    if ((packed & 0x80) != 0) {
      val size = 1 << ((packed & 0x07) + 1)
      table = readTable(size, pos)
      if (table == null) return null
      pos += 3 * size
    }
    // block walk to the first image descriptor
    while (true) {
      if (pos >= b.length) return null
      u8(b, pos) match {
        case 0x3B => return null // trailer before any image
        case 0x21 => // extension: label + sub-block chain
          pos += 2
          var len = if (pos < b.length) u8(b, pos) else return null
          while (len != 0) {
            pos += 1 + len
            if (pos >= b.length) return null
            len = u8(b, pos)
          }
          pos += 1
        case 0x2C =>
          if (pos + 10 > b.length) return null
          val left = le16(b, pos + 1); val top = le16(b, pos + 3)
          val iw = le16(b, pos + 5).toInt; val ih = le16(b, pos + 7).toInt
          val ip = u8(b, pos + 9)
          if (left != 0L || top != 0L || iw != w || ih != h) return null
          pos += 10
          if ((ip & 0x80) != 0) {
            val size = 1 << ((ip & 0x07) + 1)
            table = readTable(size, pos)
            if (table == null) return null
            pos += 3 * size
          }
          if (table == null) return null // no color table at all
          val idx = lzwIndices(b, pos, w * h)
          if (idx == null) return null
          val tbl = table
          var bad = false
          var i = 0
          while (i < idx.length && !bad) {
            if (idx(i) >= tbl.length) bad = true; i += 1
          }
          if (bad) return null
          // interlaced frames (GIF89a §20, and what the JDK's own
          // encoder emits by default): rows are STORED in the 4-pass
          // order 0,8,16… / 4,12… / 2,6… / 1,3,5… — a pure row
          // permutation; visualRow(storedRow) below inverts it
          val rowOf: Int => Int =
            if ((ip & 0x40) == 0) (y: Int) => y
            else {
              val order = ((0 until h by 8) ++ (4 until h by 8) ++
                (2 until h by 4) ++ (1 until h by 2)).toArray
              val inv = new Array[Int](h)
              var r = 0
              while (r < h) { inv(order(r)) = r; r += 1 }
              (y: Int) => inv(y)
            }
          return LumView("gif", w, h, 3, (x, y) => {
            val rgb = tbl(idx(rowOf(y) * w + x))
            299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
              114L * (rgb & 0xFF)
          })
        case _ => return null
      }
    }
    null
  }

  /** LZW decode of the image data starting at `pos` (min-code-size
    * byte, then sub-blocks) into exactly `need` palette indices, or
    * null on any malformation.
    */
  private def lzwIndices(b: Array[Byte], pos0: Int, need: Int): Array[Int] = {
    if (pos0 >= b.length) return null
    val minCode = u8(b, pos0)
    if (minCode < 2 || minCode > 8) return null
    val clear = 1 << minCode
    val eoi = clear + 1
    // concatenate sub-block payloads
    val data = new java.io.ByteArrayOutputStream()
    var pos = pos0 + 1
    var len = if (pos < b.length) u8(b, pos) else return null
    while (len != 0) {
      if (pos + 1 + len > b.length) return null
      data.write(b, pos + 1, len)
      pos += 1 + len
      if (pos >= b.length) return null
      len = u8(b, pos)
    }
    val d = data.toByteArray
    var bit = 0
    def read(k: Int): Int = {
      if (bit + k > d.length * 8) return -1
      var v = 0; var i = 0
      while (i < k) {
        val p = bit + i
        if ((d(p >> 3) & (1 << (p & 7))) != 0) v |= 1 << i
        i += 1
      }
      bit += k
      v
    }
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val out = new Array[Int](need)
    var got = 0
    var next = eoi + 1
    var codeSize = minCode + 1
    var prev = -1
    def emit(code: Int): Int = { // returns the string's FIRST index
      // walk the chain to measure, then write forward
      var n = 0; var c = code
      while (c >= clear) { n += 1; c = prefix(c) }
      n += 1
      val first = c
      if (got + n > need) return -2 // stream longer than the canvas
      var w = got + n - 1; c = code
      while (c >= clear) { out(w) = suffix(c); w -= 1; c = prefix(c) }
      out(w) = c
      got += n
      first
    }
    while (got < need) {
      val code = read(codeSize)
      if (code < 0) return null // bits exhausted before w*h pixels
      if (code == clear) {
        next = eoi + 1; codeSize = minCode + 1; prev = -1
      } else if (code == eoi) {
        return null // EOI before the canvas filled
      } else if (prev == -1) {
        if (code >= clear) return null // first code must be a literal
        if (emit(code) < 0) return null
        prev = code
      } else if (code == next) {
        // the KwKwK case: the entry is string(prev) + firstChar(prev),
        // added BEFORE it is emitted
        if (next >= 4096) return null
        var c = prev
        while (c >= clear) c = prefix(c)
        prefix(next) = prev; suffix(next) = c
        next += 1
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        if (emit(code) < 0) return null
        prev = code
      } else if (code < next) {
        val first = emit(code)
        if (first < 0) return null
        if (next < 4096) { // deferred clear: table stops growing
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      } else return null // code beyond the table: corrupt stream
    }
    out
  }

  // ------------------------------------------------- shared stats pass

  /** One pass over lum(x, y) (y = visual row, top-down): sums, the
    * 8-bucket histogram, and the 9×8-grid dHash. Shared with
    * [[graft.operators.Multimodal]]'s ImageIO fallback path so BOTH
    * decode routes produce statistics under the identical definition.
    */
  private[graft] def statsOf(fmt: String, w: Int, h: Int, channels: Int,
                             lum: (Int, Int) => Long): Stats =
    stats(fmt, w, h, channels, lum)

  private def stats(fmt: String, w: Int, h: Int, channels: Int,
                    lum: (Int, Int) => Long): Stats = {
    var s = 0L; var sq = 0L
    val hist = new Array[Long](8)
    val gridOk = w >= 9 && h >= 8
    val cellSum = if (gridOk) new Array[Long](72) else null
    val cellCnt = if (gridOk) new Array[Long](72) else null
    var y = 0
    while (y < h) {
      val cy = 8 * y / h
      var x = 0
      while (x < w) {
        val l = lum(x, y)
        s += l; sq += l * l
        hist(((l / 1000L) >> 5).toInt) += 1L
        if (gridOk) {
          val c = cy * 9 + 9 * x / w
          cellSum(c) += l; cellCnt(c) += 1L
        }
        x += 1
      }
      y += 1
    }
    val dh = if (!gridOk) None else {
      var bitsAcc = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val a = cellSum(cy * 9 + cx) / cellCnt(cy * 9 + cx)
          val b = cellSum(cy * 9 + cx + 1) / cellCnt(cy * 9 + cx + 1)
          if (b > a) bitsAcc |= 1L << (cy * 8 + cx)
          cx += 1
        }
        cy += 1
      }
      Some(bitsAcc)
    }
    Stats(fmt, w, h, channels, s, sq, dh, hist)
  }
}
