package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codec-free VIDEO container header decode — the (format, width,
  * height, duration_ms, n_frames, codec) a multimodal training
  * pipeline gates on (resolution, duration, fps, codec allowlist)
  * BEFORE any frame is touched. Pure byte arithmetic over the three
  * ubiquitous container layouts (Matroska/WebM documented at
  * [[parseMkv]]); no codec libraries:
  *
  *  - MP4 / ISO-BMFF (ISO/IEC 14496-12): a box walk — each box is
  *    size(BE32) + fourcc, size 1 switching to a 64-bit largesize and
  *    size 0 running to the end of the enclosing box. `moov/mvhd`
  *    carries the movie timescale + duration (version 0: BE32s after
  *    4+8 bytes of version/flags/times; version 1: 64-bit times and
  *    duration); each `moov/trak/tkhd` carries track width/height as
  *    16.16 FIXED-POINT BE32s at the end of the box (offsets 76/80 in
  *    version 0, 88/92 in version 1 — after the 36-byte identity
  *    matrix). The VIDEO track is the first trak with nonzero tkhd
  *    dimensions (audio tracks are 0×0 per spec). The sample count
  *    (n_frames) is `stsz`'s BE32 at payload offset 8 and the codec
  *    is `stsd`'s first sample-entry fourcc — both found by walking
  *    trak/mdia/minf/stbl.
  *  - AVI (the public RIFF AVI layout): RIFF form "AVI ", then LIST
  *    chunks. `hdrl`'s `avih` (MainAVIHeader) carries
  *    dwMicroSecPerFrame at payload offset 0, dwTotalFrames at 16,
  *    dwWidth/dwHeight at 32/36 (all LE32); the `strl` LIST whose
  *    `strh` has fccType "vids" carries the codec handler fourcc at
  *    payload offset 4 (all-zero handler reported as "dib " — the
  *    uncompressed convention).
  *
  * duration_ms = ⌊duration·1000 / timescale⌋ (MP4) or
  * ⌊frames · µsPerFrame / 1000⌋ (AVI) — integer, oracle-replayable.
  * Corrupt, truncated, or unknown-magic payloads return NULL — loud
  * (the gate quarantines), never a wrong dimension; every read is
  * bounds-checked so adversarial sizes cannot over-read, and box/chunk
  * advances are computed in Long so a ~2 GB declared size cannot
  * overflow an Int index (the round-14 RIFF walk lesson).
  */
object VideoHeaderKernel {

  /** Result type of [[parse]]. */
  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("codec", StringType, nullable = false)))

  private val FORMAT_MP4 = UTF8String.fromString("mp4")
  private val FORMAT_AVI = UTF8String.fromString("avi")

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(Array(b(i), b(i + 1), b(i + 2), b(i + 3)),
      java.nio.charset.StandardCharsets.US_ASCII)

  private def isType(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  /** @return InternalRow(format, width, height, duration_ms, n_frames,
    * codec) or null. Containers that declare no sample count
    * (Matroska) report n_frames 0 — "undeclared", documented, never
    * invented.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')
      parseAvi(b)
    else if (b.length >= 8 && isType(b, 4, "ftyp")) parseMp4(b)
    else if ((b(0) & 0xFF) == 0x1A && (b(1) & 0xFF) == 0x45 &&
      (b(2) & 0xFF) == 0xDF && (b(3) & 0xFF) == 0xA3) parseMkv(b)
    else null
  }

  // ------------------------------------------------------------- ISO-BMFF

  /** Find the first child box of the given type inside [from, end);
    * returns (payloadStart, payloadEnd) or null. Box header is 8 bytes
    * (16 with largesize); size 0 means to-end-of-enclosing.
    */
  private def findBox(b: Array[Byte], from: Int, end: Int,
                      typ: String): (Int, Int) = {
    var i = from
    while (i + 8 <= end) {
      var size = be32(b, i)
      var hdr = 8
      if (size == 1L) {
        if (i + 16 > end) return null
        size = be64(b, i + 8); hdr = 16
      } else if (size == 0L) size = (end - i).toLong
      if (size < hdr || i + size > end) return null
      if (isType(b, i + 4, typ)) return ((i + hdr), (i + size).toInt)
      i = (i + size).toInt
    }
    null
  }

  /** Next sibling box after the one whose payload ends at prevEnd —
    * used to iterate traks. Returns the (payloadStart, payloadEnd) of
    * the next box of `typ` at or after `from`.
    */
  private def parseMp4(b: Array[Byte]): InternalRow = {
    val n = b.length
    val moov = findBox(b, 0, n, "moov")
    if (moov == null) return null
    val mvhd = findBox(b, moov._1, moov._2, "mvhd")
    if (mvhd == null) return null
    val (m0, m1) = mvhd
    if (m0 + 4 > m1) return null
    val v = b(m0) & 0xFF
    var timescale = 0L; var duration = 0L
    if (v == 0) {
      if (m0 + 20 > m1) return null
      timescale = be32(b, m0 + 12); duration = be32(b, m0 + 16)
    } else if (v == 1) {
      if (m0 + 32 > m1) return null
      timescale = be32(b, m0 + 20); duration = be64(b, m0 + 24)
    } else return null
    if (timescale <= 0L || duration < 0L) return null
    // walk traks for the first with nonzero tkhd dims
    var i = moov._1
    while (i < moov._2) {
      val trak = findBox(b, i, moov._2, "trak")
      if (trak == null) return null // no video trak found anywhere
      val tkhd = findBox(b, trak._1, trak._2, "tkhd")
      if (tkhd != null) {
        val (t0, t1) = tkhd
        if (t0 + 4 <= t1) {
          val tv = b(t0) & 0xFF
          val wOff = if (tv == 1) 88 else 76
          if (tv <= 1 && t0 + wOff + 8 <= t1) {
            val w = be32(b, t0 + wOff) >> 16 // 16.16 fixed
            val h = be32(b, t0 + wOff + 4) >> 16
            if (w > 0L && h > 0L) {
              // video trak: dig out codec + sample count
              var codec: UTF8String = null
              var frames = -1L
              val mdia = findBox(b, trak._1, trak._2, "mdia")
              if (mdia != null) {
                val minf = findBox(b, mdia._1, mdia._2, "minf")
                if (minf != null) {
                  val stbl = findBox(b, minf._1, minf._2, "stbl")
                  if (stbl != null) {
                    val stsd = findBox(b, stbl._1, stbl._2, "stsd")
                    // stsd payload: v+flags(4) entryCount(4) then the
                    // first sample entry: size(4) fourcc(4)
                    if (stsd != null && stsd._1 + 16 <= stsd._2)
                      codec = UTF8String.fromString(
                        fourcc(b, stsd._1 + 12).trim)
                    val stsz = findBox(b, stbl._1, stbl._2, "stsz")
                    // stsz payload: v+flags(4) sampleSize(4) count(4)
                    if (stsz != null && stsz._1 + 12 <= stsz._2)
                      frames = be32(b, stsz._1 + 8)
                  }
                }
              }
              if (codec == null || frames < 0L) return null
              // mvhd v1 carries a 64-bit duration: duration*1000 can
              // overflow Long on adversarial headers — NULL, never a
              // wrong/negative duration_ms.
              if (duration > Long.MaxValue / 1000L) return null
              return InternalRow(FORMAT_MP4, w, h,
                duration * 1000L / timescale, frames, codec)
            }
          }
        }
      }
      i = trak._2 // advance past this (non-video) trak
    }
    null
  }

  // ------------------------------------------------------- Matroska/WebM

  /** EBML varint (RFC 8794): the first byte's leading zeros give the
    * width (1..8); element IDs keep the marker bit (matched against
    * their stored form, e.g. Segment = 0x18538067), SIZES clear it.
    * Returns value packed with width: (value << 4) | width, or −1 on
    * malformation / truncation. An all-ones size value means "unknown
    * size — runs to the end of the enclosing element".
    */
  private def vint(b: Array[Byte], i: Int, end: Int,
                   keepMarker: Boolean): (Long, Int) = {
    if (i >= end) return null
    val first = b(i) & 0xFF
    if (first == 0) return null // width > 8: out of EBML's domain
    val width = java.lang.Integer.numberOfLeadingZeros(first) - 23
    if (i + width > end) return null
    var v = if (keepMarker) first.toLong
    else first.toLong & ((1L << (8 - width)) - 1L)
    var k = 1
    while (k < width) { v = (v << 8) | (b(i + k) & 0xFFL); k += 1 }
    (v, width)
  }

  /** All-ones size payload for the given width = unknown size. */
  private def unknownSize(v: Long, width: Int): Boolean =
    v == (1L << (7 * width)) - 1L

  /** Find the first child element with the given STORED id inside
    * [from, end); returns (payloadStart, payloadEnd) or null.
    */
  private def findEl(b: Array[Byte], from: Int, end: Int,
                     id: Long): (Int, Int) = {
    var i = from
    while (i < end) {
      val idv = vint(b, i, end, keepMarker = true)
      if (idv == null) return null
      val sz = vint(b, i + idv._2, end, keepMarker = false)
      if (sz == null) return null
      val p0 = i + idv._2 + sz._2
      val p1 = if (unknownSize(sz._1, sz._2)) end.toLong
      else p0.toLong + sz._1
      if (p1 > end) return null
      if (idv._1 == id) return (p0, p1.toInt)
      i = p1.toInt
    }
    null
  }

  /** Matroska / WebM (RFC 8794 EBML + the public Matroska element
    * registry): EBML header (DocType 0x4282 → the reported format —
    * "webm" or "matroska"), then Segment 0x18538067 (unknown-size
    * tolerated — runs to EOF): Info 0x1549A966 carries TimestampScale
    * 0x2AD7B1 (uint; spec default 1,000,000) and Duration 0x4489 (an
    * IEEE float, 4 or 8 bytes, in timestamp-scale units —
    * duration_ms = ⌊dur · ts / 10⁶⌋); Tracks 0x1654AE6B → the first
    * TrackEntry 0xAE whose TrackType 0x83 is 1 (video) and which
    * carries a Video element 0xE0 (PixelWidth 0xB0 / PixelHeight
    * 0xBA) — audio entries are walked past; codec = CodecID 0x86
    * verbatim (Matroska codec ids are strings, "V_VP9" et al.).
    * Matroska headers declare no frame count → n_frames 0
    * (undeclared). A missing Duration quarantines (a curation gate
    * needs duration; live-stream files without one route to NULL),
    * as do missing dims/codec, NaN/negative durations, and any
    * truncated varint.
    */
  private def parseMkv(b: Array[Byte]): InternalRow = {
    val n = b.length
    // EBML header: id(4) already matched; size, then DocType inside
    val hsz = vint(b, 4, n, keepMarker = false)
    if (hsz == null || unknownSize(hsz._1, hsz._2)) return null
    val h0 = 4 + hsz._2
    val h1 = h0.toLong + hsz._1
    if (h1 > n) return null
    val doct = findEl(b, h0, h1.toInt, 0x4282L)
    if (doct == null) return null
    val format = UTF8String.fromBytes(
      java.util.Arrays.copyOfRange(b, doct._1, doct._2))
    val seg = findEl(b, h1.toInt, n, 0x18538067L)
    if (seg == null) return null
    val info = findEl(b, seg._1, seg._2, 0x1549A966L)
    if (info == null) return null
    var ts = 1000000L // spec default
    val tsEl = findEl(b, info._1, info._2, 0x2AD7B1L)
    if (tsEl != null) {
      if (tsEl._2 - tsEl._1 > 8) return null
      var v = 0L
      var k = tsEl._1
      while (k < tsEl._2) { v = (v << 8) | (b(k) & 0xFFL); k += 1 }
      if (v <= 0L) return null
      ts = v
    }
    val durEl = findEl(b, info._1, info._2, 0x4489L)
    if (durEl == null) return null
    val dur = (durEl._2 - durEl._1) match {
      case 4 => java.lang.Float.intBitsToFloat(be32(b, durEl._1).toInt)
        .toDouble
      case 8 => java.lang.Double.longBitsToDouble(be64(b, durEl._1))
      case _ => return null
    }
    if (dur.isNaN || dur < 0.0 || dur > 9.0e15) return null
    val durMs = math.floor(dur * ts / 1.0e6).toLong
    val tracks = findEl(b, seg._1, seg._2, 0x1654AE6BL)
    if (tracks == null) return null
    var i = tracks._1
    while (i < tracks._2) {
      val entry = findEl(b, i, tracks._2, 0xAEL)
      if (entry == null) return null // no video track anywhere
      val typEl = findEl(b, entry._1, entry._2, 0x83L)
      val video = findEl(b, entry._1, entry._2, 0xE0L)
      if (typEl != null && typEl._2 - typEl._1 == 1 &&
        b(typEl._1) == 1 && video != null) {
        val wEl = findEl(b, video._1, video._2, 0xB0L)
        val hEl = findEl(b, video._1, video._2, 0xBAL)
        val cEl = findEl(b, entry._1, entry._2, 0x86L)
        if (wEl == null || hEl == null || cEl == null) return null
        def uintOf(el: (Int, Int)): Long = {
          if (el._2 - el._1 > 8) return -1L
          var v = 0L
          var k = el._1
          while (k < el._2) { v = (v << 8) | (b(k) & 0xFFL); k += 1 }
          v
        }
        val w = uintOf(wEl); val h = uintOf(hEl)
        if (w <= 0L || h <= 0L) return null
        val codec = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(b, cEl._1, cEl._2))
        return InternalRow(format, w, h, durMs, 0L, codec)
      }
      i = entry._2 // skip the (audio/subtitle) entry
    }
    null
  }

  // ----------------------------------------------------------------- AVI

  private def parseAvi(b: Array[Byte]): InternalRow = {
    val n = b.length
    var w = -1L; var h = -1L; var us = -1L; var frames = -1L
    var codec: UTF8String = null
    // walk top-level chunks inside the RIFF form
    var i = 12
    while (i + 8 <= n) {
      val size = le32(b, i + 4)
      if (size < 0L || i + 8L + size > n) return null
      if (isType(b, i, "LIST") && size >= 4L) {
        if (isType(b, i + 8, "hdrl")) {
          // children of hdrl: avih, then strl LISTs
          var j = i + 12
          val end = (i + 8 + size).toInt
          while (j + 8 <= end) {
            val csize = le32(b, j + 4)
            if (csize < 0L || j + 8L + csize > end) return null
            if (isType(b, j, "avih") && csize >= 40L) {
              us = le32(b, j + 8)
              frames = le32(b, j + 24)
              w = le32(b, j + 40)
              h = le32(b, j + 44)
            } else if (isType(b, j, "LIST") && csize >= 4L &&
              isType(b, j + 8, "strl")) {
              // first child must be strh; codec = handler of the
              // "vids" stream (all-zero handler → "dib ")
              val s0 = j + 12
              if (s0 + 8 <= end && isType(b, s0, "strh") &&
                le32(b, s0 + 4) >= 8L && s0 + 16 <= end &&
                isType(b, s0 + 8, "vids")) {
                codec =
                  if (le32(b, s0 + 12) == 0L) UTF8String.fromString("dib")
                  else UTF8String.fromString(fourcc(b, s0 + 12).trim
                    .toLowerCase(java.util.Locale.ROOT))
              }
            }
            val adv = j.toLong + 8L + csize + (csize & 1L)
            if (adv > Int.MaxValue) return null
            j = adv.toInt
          }
        }
      }
      val adv = i.toLong + 8L + size + (size & 1L)
      if (adv > Int.MaxValue) return null
      i = adv.toInt
    }
    if (w <= 0L || h <= 0L || us <= 0L || frames < 0L || codec == null)
      return null
    // frames and us are both LE32 fields (each up to 2^32−1): their
    // product can overflow Long on adversarial headers — NULL, never a
    // wrong/negative duration_ms.
    if (frames > Long.MaxValue / us) return null
    InternalRow(FORMAT_AVI, w, h, frames * us / 1000L, frames, codec)
  }
}

/** AVI FRAME SAMPLING with per-frame pixel statistics — the real kernel
  * behind [[graft.operators.Multimodal.sampleVideoFrames]]: every
  * `stride`-th video frame of an UNCOMPRESSED-DIB AVI (the one frame
  * layout that needs no codec: `strf` BITMAPINFOHEADER with
  * biCompression BI_RGB and biBitCount 24, frame chunks `00db` in the
  * `movi` LIST holding raw bottom-up BGR rows with 4-byte stride
  * padding — exactly the BMP pixel layout [[PixelKernel]] already
  * decodes) is reduced to the SAME integer statistics as still images
  * (milli-luminance sum / sum-of-squares and the 9×8-grid dHash via
  * [[PixelKernel.statsOf]] — one shared definition, so a video frame
  * and a still image of the same pixels hash identically and image↔
  * video near-dup joins are well-defined).
  *
  * Returns one array element per SAMPLED frame (indices 0, stride,
  * 2·stride, …): (frame_idx, lum_sum, lum_sq_sum, dhash). Frames are
  * only DECODED when sampled — the walk skips unsampled chunks by
  * their declared size, which is the point of sampling before heavier
  * per-frame work. Compressed streams (`00dc` chunks / non-BI_RGB
  * strf), malformed walks, or frame chunks smaller than the pixel
  * rows → NULL, loud not wrong. Decode-bomb guard: per-frame raw size
  * capped at 2^26 bytes.
  */
object VideoFrameKernel {

  /** Result type of [[parse]]. */
  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("lum_sum", LongType, nullable = false),
    StructField("lum_sq_sum", LongType, nullable = false),
    StructField("dhash", LongType, nullable = true))),
    containsNull = false)

  private val MaxFrameBytes = 1L << 26

  private def le16(b: Array[Byte], i: Int): Long =
    ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  private def isType(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  /** Decoded per-frame statistics. */
  final case class FrameStats(frameIdx: Long, lumSum: Long,
                              lumSqSum: Long, dhash: Option[Long])

  /** biCompression fourcc 'MJPG' as the LE32 the strf stores. */
  private val FourccMjpg = 0x47504A4DL

  /** Scala-side decode (shared by [[parse]] and
    * [[graft.operators.Multimodal]]): None on corrupt AVIs or frame
    * layouts with no available decode path (the two supported layouts
    * are uncompressed 24bpp BI_RGB DIB, and — round 17 — MJPEG, whose
    * frame chunks are baseline JPEGs handed to [[JpegKernel]]; a still
    * image and a video frame of the same pixels hash identically in
    * BOTH layouts because all three paths reduce through
    * [[PixelKernel.statsOf]]).
    */
  def decode(b: Array[Byte], stride: Int): Option[Seq[FrameStats]] = {
    if (b == null || b.length < 12 || stride <= 0) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '))
      return None
    val n = b.length
    // pass 1: strf BITMAPINFOHEADER of the vids stream (hdrl/strl)
    var w = -1; var h = -1
    var mjpeg = false
    var i = 12
    while (i + 8 <= n) {
      val size = le32(b, i + 4)
      if (size < 0L || i + 8L + size > n) return None
      if (isType(b, i, "LIST") && size >= 4L && isType(b, i + 8, "hdrl")) {
        var j = i + 12
        val end = (i + 8 + size).toInt
        while (j + 8 <= end) {
          val csize = le32(b, j + 4)
          if (csize < 0L || j + 8L + csize > end) return None
          if (isType(b, j, "LIST") && csize >= 4L &&
            isType(b, j + 8, "strl")) {
            // strh (vids) then strf (BITMAPINFOHEADER)
            val s0 = j + 12
            if (s0 + 8 <= end && isType(b, s0, "strh") &&
              s0 + 16 <= end && isType(b, s0 + 8, "vids")) {
              val ssize = le32(b, s0 + 4)
              val f0Long = s0.toLong + 8L + ssize + (ssize & 1L)
              if (f0Long > Int.MaxValue) return None
              val f0 = f0Long.toInt
              if (f0 + 8 <= end && isType(b, f0, "strf") &&
                le32(b, f0 + 4) >= 40L && f0 + 48 <= end) {
                val compression = le32(b, f0 + 24)
                if (compression == FourccMjpg) {
                  mjpeg = true // dims come from each frame's own SOF
                  w = le32(b, f0 + 12).toInt
                  h = le32(b, f0 + 16).toInt
                } else if (le16(b, f0 + 22) == 24L && compression == 0L) {
                  w = le32(b, f0 + 12).toInt
                  h = le32(b, f0 + 16).toInt // positive = bottom-up
                } else return None // no decode path for this layout
              }
            }
          }
          val adv = j.toLong + 8L + csize + (csize & 1L)
          if (adv > Int.MaxValue) return None
          j = adv.toInt
        }
      }
      val adv = i.toLong + 8L + size + (size & 1L)
      if (adv > Int.MaxValue) return None
      i = adv.toInt
    }
    if (w <= 0 || h == 0) return None
    val topDown = h < 0
    val ah = math.abs(h)
    val rowStride = (w * 3 + 3) / 4 * 4
    val frameBytes = rowStride.toLong * ah
    if (frameBytes > MaxFrameBytes) return None
    // pass 2: movi walk, decoding every stride-th frame chunk (DIB
    // frames live in 00db; MJPEG muxers write 00dc or 00db — both are
    // JPEG payloads in that layout)
    val out = scala.collection.mutable.ArrayBuffer.empty[FrameStats]
    var frameIdx = 0L
    i = 12
    while (i + 8 <= n) {
      val size = le32(b, i + 4)
      if (size < 0L || i + 8L + size > n) return None
      if (isType(b, i, "LIST") && size >= 4L && isType(b, i + 8, "movi")) {
        var j = i + 12
        val end = (i + 8 + size).toInt
        while (j + 8 <= end) {
          val csize = le32(b, j + 4)
          if (csize < 0L || j + 8L + csize > end) return None
          if (!mjpeg && isType(b, j, "00dc")) return None // compressed: no codec
          if (isType(b, j, "00db") || (mjpeg && isType(b, j, "00dc"))) {
            if (frameIdx % stride == 0L) {
              val p = j + 8
              if (mjpeg) {
                val v = JpegKernel.decode(
                  java.util.Arrays.copyOfRange(b, p, p + csize.toInt))
                if (v == null) return None // corrupt frame: loud, not wrong
                val st = PixelKernel.statsOf("avi", v.width, v.height,
                  v.channels, v.lum)
                out += FrameStats(frameIdx, st.lumSum, st.lumSqSum, st.dhash)
              } else {
                if (csize < frameBytes) return None // short frame chunk
                val st = PixelKernel.statsOf("avi", w, ah, 3, (x, yy) => {
                  val diskRow = if (topDown) yy else ah - 1 - yy
                  val o = p + diskRow * rowStride + x * 3
                  299L * (b(o + 2) & 0xFF) + 587L * (b(o + 1) & 0xFF) +
                    114L * (b(o) & 0xFF)
                })
                out += FrameStats(frameIdx, st.lumSum, st.lumSqSum, st.dhash)
              }
            }
            frameIdx += 1L
          }
          val adv = j.toLong + 8L + csize + (csize & 1L)
          if (adv > Int.MaxValue) return None
          j = adv.toInt
        }
      }
      val adv = i.toLong + 8L + size + (size & 1L)
      if (adv > Int.MaxValue) return None
      i = adv.toInt
    }
    Some(out.toSeq)
  }

  /** [[decode]] shaped as a [[Schema]] array. */
  def parse(b: Array[Byte], stride: Int): ArrayData = decode(b, stride) match {
    case None => null
    case Some(frames) => new GenericArrayData(frames.map(f =>
      InternalRow(f.frameIdx, f.lumSum, f.lumSqSum,
        f.dhash.map(Long.box).orNull)).toArray[Any])
  }
}

/** MP3 (MPEG audio Layer III) frame-walk header decode — the audio
  * container the web corpus actually ships; everything a duration /
  * bitrate / sample-rate gate needs, read from the 4-byte frame
  * headers alone (ISO/IEC 11172-3 §2.4.1.3 — no entropy decode):
  *
  *  - an optional ID3v2 tag ("ID3" + 2 version bytes + flags + a
  *    4-byte SYNCHSAFE size, 7 bits per byte) is skipped first;
  *  - each frame header: sync FF Ex, version (bits 4..3 of byte 1:
  *    3 = MPEG-1, 2 = MPEG-2, 0 = MPEG-2.5), layer bits 01 =
  *    Layer III (anything else → NULL — this is an MP3 gate),
  *    bitrate index (byte 2 bits 7..4) through the public Layer III
  *    tables, sample-rate index (bits 3..2), padding bit 1;
  *  - frame size = ⌊spf/8 · bitrate / rate⌋ + padding with spf = 1152
  *    (MPEG-1) or 576 (MPEG-2/2.5) samples per frame — i.e.
  *    144·kbps·1000/rate for MPEG-1;
  *  - channels: mode bits 7..6 of byte 3 — 11 = mono → 1, else 2.
  *
  * The walk requires every frame to be complete and back-to-back
  * (trailing garbage or a mid-frame truncation → NULL, loud not
  * wrong), accumulates samples per frame (VBR-safe: each frame's own
  * bitrate sizes it), and reports n_frames,
  * duration_ms = ⌊samples·1000 / rate⌋, and the mean frame bitrate
  * ⌊Σkbps / frames⌋. Free-format (index 0) and the invalid indices
  * 15 / rate 3 / version 1 → NULL. Sample rate and channel mode must
  * be consistent across frames (a mid-stream rate flip is corrupt).
  */
object Mp3HeaderKernel {

  /** Result type of [[parse]]. */
  val Schema: StructType = StructType(Seq(
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("bitrate_kbps", LongType, nullable = false)))

  // MPEG-1 Layer III / MPEG-2(.5) Layer III bitrates, kbps, index 1..14
  private val BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
    96, 112, 128, 144, 160)
  private val RateV1 = Array(44100, 48000, 32000)
  private val RateV2 = Array(22050, 24000, 16000)
  private val RateV25 = Array(11025, 12000, 8000)

  /** @return InternalRow(sample_rate, channels, n_frames, duration_ms,
    * bitrate_kbps) or null.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return null
    val n = b.length
    var i = 0
    // optional ID3v2 preamble
    if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      if (n < 10) return null
      // synchsafe 28-bit size; high bit of any byte set → malformed
      if ((b(6) | b(7) | b(8) | b(9)) < 0) return null
      val sz = ((b(6) & 0x7FL) << 21) | ((b(7) & 0x7FL) << 14) |
        ((b(8) & 0x7FL) << 7) | (b(9) & 0x7FL)
      val skip = 10L + sz
      if (skip + 4 > n) return null
      i = skip.toInt
    }
    var frames = 0L
    var samples = 0L
    var kbpsSum = 0L
    var rate = -1
    var channels = -1L
    while (i < n) {
      if (i + 4 > n) return null // trailing partial header
      if ((b(i) & 0xFF) != 0xFF || (b(i + 1) & 0xE0) != 0xE0) return null
      val ver = (b(i + 1) >> 3) & 0x03 // 3=V1 2=V2 0=V2.5 1=reserved
      val layer = (b(i + 1) >> 1) & 0x03 // 01 = Layer III
      if (ver == 1 || layer != 1) return null
      val brIdx = (b(i + 2) >> 4) & 0x0F
      val srIdx = (b(i + 2) >> 2) & 0x03
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return null
      val kbps = if (ver == 3) BitrateV1(brIdx) else BitrateV2(brIdx)
      val r = if (ver == 3) RateV1(srIdx)
      else if (ver == 2) RateV2(srIdx) else RateV25(srIdx)
      val spf = if (ver == 3) 1152 else 576
      val pad = (b(i + 2) >> 1) & 0x01
      val mono = ((b(i + 3) >> 6) & 0x03) == 3
      if (rate == -1) { rate = r; channels = if (mono) 1L else 2L }
      else if (r != rate || (if (mono) 1L else 2L) != channels)
        return null // mid-stream parameter flip
      val frameSize = spf / 8 * kbps * 1000 / r + pad
      if (frameSize < 4 || i + frameSize > n) return null
      frames += 1L
      samples += spf
      kbpsSum += kbps
      i += frameSize
    }
    if (frames == 0L) return null
    InternalRow(rate.toLong, channels, frames,
      samples * 1000L / rate, kbpsSum / frames)
  }
}
