package graft.expressions

/** Image METADATA STRIP — the privacy pass a multimodal training
  * pipeline runs before anything is stored or trained on: camera EXIF
  * blocks carry GPS coordinates, serial numbers, and timestamps, and
  * PNG text chunks carry arbitrary key/value payloads; both must go,
  * while the PIXELS must come through bit-identical. Pure byte
  * arithmetic (the [[MediaHeaderKernel]] walks, rewriting instead of
  * reading):
  *
  *  - JPEG (ITU-T T.81): the marker walk copies every segment EXCEPT
  *    APP1–APP15 (Exif, XMP, ICC, vendor notes — APP0/JFIF is kept:
  *    it carries pixel density, not identity) and COM comments; from
  *    SOS on, the remainder (entropy-coded scan through EOI) is copied
  *    verbatim — scan bytes are never reframed;
  *  - PNG (ISO/IEC 15948): the chunk walk copies every chunk EXCEPT
  *    the metadata set tEXt / zTXt / iTXt / eXIf / tIME — ancillary by
  *    spec (their removal cannot affect decoding), which is the
  *    formal guarantee behind the decode-invariance gate (stripped
  *    pixels hash identically).
  *
  * Non-JPEG/PNG or malformed payloads → NULL, loud not wrong (the
  * caller routes originals/quarantines explicitly; silently passing
  * unstripped bytes through a PRIVACY pass would be the wrong kind of
  * quiet).
  */
object MediaStripKernel {

  def strip(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 8) return null
    if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) stripJpeg(b)
    else if ((b(0) & 0xFF) == 0x89 && b(1) == 0x50 && b(2) == 0x4E &&
      b(3) == 0x47) stripPng(b)
    else null
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  private def stripJpeg(b: Array[Byte]): Array[Byte] = {
    val n = b.length
    val out = new java.io.ByteArrayOutputStream(n)
    out.write(0xFF); out.write(0xD8)
    var i = 2
    while (i + 1 < n) {
      if (u8(b, i) != 0xFF) return null
      var j = i
      while (j + 1 < n && u8(b, j + 1) == 0xFF) j += 1 // fill bytes
      if (j + 1 >= n) return null
      val m = u8(b, j + 1)
      if (m == 0xD9) { // EOI: copy and stop (trailing bytes dropped)
        out.write(0xFF); out.write(0xD9)
        return out.toByteArray
      } else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
        out.write(0xFF); out.write(m)
        i = j + 2
      } else if (m == 0xDA) {
        // SOS: the entropy-coded scan follows — copy VERBATIM to end
        out.write(b, j, n - j)
        return out.toByteArray
      } else {
        if (j + 4 > n) return null
        val len = be16(b, j + 2)
        if (len < 2 || j + 2 + len > n) return null
        val isMeta = (m >= 0xE1 && m <= 0xEF) || m == 0xFE // APPn>0, COM
        if (!isMeta) out.write(b, j, 2 + len)
        i = j + 2 + len
      }
    }
    null // ran off the end without EOI or SOS
  }

  private val PngMetaChunks =
    Set("tEXt", "zTXt", "iTXt", "eXIf", "tIME")

  private def stripPng(b: Array[Byte]): Array[Byte] = {
    val n = b.length
    if (n < 8) return null
    val out = new java.io.ByteArrayOutputStream(n)
    out.write(b, 0, 8) // signature
    var i = 8
    while (i < n) {
      if (i + 8 > n) return null
      val len = be32(b, i)
      if (len < 0L || len > (1L << 31) - 12L || i + 12L + len > n)
        return null
      val typ = new String(Array(b(i + 4), b(i + 5), b(i + 6), b(i + 7)),
        java.nio.charset.StandardCharsets.US_ASCII)
      val total = 12 + len.toInt // len + type + data + CRC
      if (!PngMetaChunks.contains(typ)) out.write(b, i, total)
      if (typ == "IEND") return out.toByteArray // trailing bytes dropped
      i += total
    }
    null // no IEND
  }
}
