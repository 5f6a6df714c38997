package graft.expressions

/** GZIP member decode (RFC 1952) of a BINARY column — the decompression
  * step in front of every compressed ingest format (.warc.gz crawl
  * shards, .tar.gz / WebDataset shards, .jsonl.gz dumps). The deflate
  * stream itself rides the JDK's own zlib (`Inflater(nowrap)` — no
  * external jars); this kernel does the RFC 1952 FRAMING as byte
  * arithmetic:
  *
  *  - header: magic 1F 8B, CM 8 (deflate — the only registered
  *    method), then the FLG-driven optional fields in spec order:
  *    FEXTRA (LE16-sized), FNAME / FCOMMENT (NUL-terminated), FHCRC
  *    (2 bytes, carried not verified — the MEMBER trailer below is the
  *    integrity check);
  *  - trailer: CRC-32 and ISIZE (length mod 2^32) of the UNCOMPRESSED
  *    member, both LE32 — VERIFIED (a flipped payload byte or a
  *    truncated stream quarantines; unlike a stats pass over pixels,
  *    a decompressor's output feeds parsers downstream, so integrity
  *    is load-bearing here);
  *  - MULTI-MEMBER streams (members back-to-back — the spec's required
  *    concatenation semantics, and how some crawl shards are built)
  *    decode to the concatenation.
  *
  * Corrupt framing, a failed CRC/ISIZE, trailing garbage, or output
  * beyond the 2^26-byte decode-bomb cap → NULL, loud not wrong.
  */
object GzipKernel {

  private val MaxOut = 1 << 26

  def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 18) return null
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < b.length) {
      if (i + 10 > b.length) return null
      if ((b(i) & 0xFF) != 0x1F || (b(i + 1) & 0xFF) != 0x8B) return null
      if (b(i + 2) != 8) return null // CM: deflate only
      val flg = b(i + 3) & 0xFF
      if ((flg & 0xE0) != 0) return null // reserved bits must be 0
      var p = i + 10
      if ((flg & 4) != 0) { // FEXTRA
        if (p + 2 > b.length) return null
        val xlen = ((b(p + 1) & 0xFF) << 8) | (b(p) & 0xFF)
        p += 2 + xlen
        if (p > b.length) return null
      }
      if ((flg & 8) != 0) { // FNAME
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) return null
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) return null
        p += 1
      }
      if ((flg & 2) != 0) { // FHCRC: carried, not verified
        p += 2
        if (p > b.length) return null
      }
      val memberStart = out.size
      // Per-member CRC is maintained INCREMENTALLY on each inflate
      // buffer — a per-member out.toByteArray would cost
      // O(members × total_output) copying, letting a crafted stream
      // (one ~64 MiB member + 100k empty members) amplify a few MiB of
      // input into terabytes of memcpy that the output cap can't bound.
      val crc = new java.util.zip.CRC32()
      val inf = new java.util.zip.Inflater(true)
      var consumed = 0
      try {
        inf.setInput(b, p, b.length - p)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch { case _: java.util.zip.DataFormatException => return null }
          if (n == 0 && !inf.finished() &&
            (inf.needsInput() || inf.needsDictionary()))
            return null // truncated / preset-dictionary stream
          out.write(buf, 0, n)
          crc.update(buf, 0, n)
          if (out.size > MaxOut) return null // decode-bomb guard
        }
        consumed = (b.length - p) - inf.getRemaining
      } finally inf.end()
      val t = p + consumed
      if (t + 8 > b.length) return null // trailer truncated
      def le32(at: Int): Long =
        ((b(at + 3) & 0xFFL) << 24) | ((b(at + 2) & 0xFFL) << 16) |
          ((b(at + 1) & 0xFFL) << 8) | (b(at) & 0xFFL)
      if (le32(t) != crc.getValue) return null // CRC-32 mismatch
      if (le32(t + 4) !=
        ((out.size - memberStart).toLong & 0xFFFFFFFFL)) return null
      i = t + 8
    }
    out.toByteArray
  }
}
