package graft.expressions

/** ZSTD frame decode (RFC 8878) of a BINARY column — the OTHER
  * compressor real corpora ship (`.jsonl.zst` dumps, `.tar.zst`
  * WebDataset shards). Unlike the gzip hop, zstd's entropy coding
  * (FSE + Huffman) is not worth re-implementing: the decode rides
  * zstd-jni, already on every public Spark classpath (Spark's own
  * shuffle and parquet codecs link it — no new dependency). What this
  * kernel ADDS is the ingest contract the raw library call lacks:
  *
  *  - magic check (frame magic 0xFD2FB528 or a leading RFC 8878 §3.1.2
  *    skippable frame 0x184D2A5x, little-endian on disk) before any
  *    native call — random bytes never reach the decoder;
  *  - a DECLARED-content-size guard: a frame header advertising more
  *    than the 64 MiB cap rejects before any allocation;
  *  - a STREAMING decode-bomb cap: output beyond 64 MiB → NULL even
  *    when the header lied (frame content size is optional in RFC
  *    8878 §3.1.1.1, so the declared guard alone is not enough);
  *  - multi-frame streams decode to the concatenation (§3 — the same
  *    contract as [[GzipKernel]]'s multi-member semantics);
  *  - any library error — corrupt frame, failed XXH64 checksum,
  *    truncation, trailing garbage — → NULL, loud not wrong.
  */
object ZstdKernel {

  private val MaxOut = 1 << 26

  def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 5) return null
    // leading magic: the standard frame 0xFD2FB528 or an RFC 8878 §3.1.2
    // skippable frame 0x184D2A5x (both little-endian on disk) — a legal
    // stream may open with skippable frames; the frame walk below still
    // validates every frame's structure either way
    val std = (b(0) & 0xFF) == 0x28 && (b(1) & 0xFF) == 0xB5 &&
      (b(2) & 0xFF) == 0x2F && (b(3) & 0xFF) == 0xFD
    val skippable = (b(0) & 0xF0) == 0x50 && (b(1) & 0xFF) == 0x2A &&
      (b(2) & 0xFF) == 0x4D && (b(3) & 0xFF) == 0x18
    if (!std && !skippable) return null
    // declared-size guard (first frame): negative means unknown/error —
    // the streaming cap below still bounds those
    val declared =
      try com.github.luben.zstd.Zstd.getFrameContentSize(b)
      catch { case _: Exception => -1L }
    if (declared > MaxOut) return null
    // FRAME WALK before any decompression: every frame must be
    // structurally complete within the payload. The streaming reader
    // alone misses one truncation shape — input ending exactly at a
    // final frame's promised-checksum boundary reads as a clean EOF
    // (caught by the q369 oracle diff during development) — and this
    // walk also rejects trailing garbage after the last frame.
    var fOff = 0
    while (fOff < b.length) {
      val fsz =
        try com.github.luben.zstd.Zstd.findFrameCompressedSize(
          b, fOff, b.length - fOff)
        catch { case _: Exception => return null }
      if (fsz <= 0L || fOff + fsz > b.length) return null
      fOff += fsz.toInt
    }
    val in = new java.io.ByteArrayInputStream(b)
    val z =
      try new com.github.luben.zstd.ZstdInputStreamNoFinalizer(in)
      catch { case _: java.io.IOException => return null }
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = z.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > MaxOut) return null // decode-bomb guard
        n = z.read(buf)
      }
      out.toByteArray
    } catch {
      case _: java.io.IOException => null
    } finally z.close()
  }
}
