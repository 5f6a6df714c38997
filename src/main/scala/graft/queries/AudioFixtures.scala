package graft.queries

/** Audio container fixtures built from doc_id arithmetic (the
  * PixelFixtures discipline): the payload writer lays out container
  * bytes FORWARD and never decodes — the kernel decodes, and the
  * oracle re-derives every decoded sample by replaying the public
  * codec arithmetic over the same doc_id-derived inputs.
  */
private[graft] object AudioFixtures {

  /** q367/q375's dedup WAV payload — the COMPILED twin of MediaDedupQueries'
    * `audioDedupPayload` Catalyst expression (round 18, guide §1.2
    * step 2: the hex-string expression tree built every sample as a
    * 16-char lpad/concat/substring chain and dominated the queries'
    * CPU; this writer lays the same bytes out directly).
    * AudioDedupPayloadSpec asserts byte-identity against the
    * expression over the full fixture id range, so the hash layer
    * above cannot diverge. Layout (f = doc/3, v = doc%3,
    * n = f%90 + 80): 44-byte canonical WAV header (tag 7 μ-law mono
    * 8-bit at v=0, tag 1 PCM-16 at v=1,2) + n code bytes (v=0) or n
    * LE16 samples (v=1: μ-law-expanded codes — the planted transcode
    * twin of v=0; v=2: unique ramp). doc%10==9 truncates mid-data.
    */
  def dedupPayload(docId: Long): Array[Byte] = {
    def pmod(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }
    val f = (docId - pmod(docId, 3L)) / 3L
    val v = pmod(docId, 3L).toInt
    val n = (pmod(f, 90L) + 80L).toInt
    def code(i: Long): Long = pmod(
      i * i * (pmod(f, 13L) + 3L) + i * 37L +
        (f - pmod(f, 13L)) / 13L * pmod(i, 11L) + f * 11L + 1L, 256L)
    def ulawLin(c: Long): Long = {
      val u = 255L - c
      val seg = pmod(u >> 4, 8L)
      val t = (pmod(u, 16L) * 8L + 132L) * (1L << seg)
      if (u >= 128L) 132L - t else t - 132L
    }
    def ramp(i: Long): Long =
      pmod(i * i * 1997L + i * 523L + pmod(docId, 251L) * pmod(i, 17L) * 64L +
        docId * 31L, 65536L) - 32768L
    val dataLen = if (v == 0) n else n * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def le16(x: Long): Unit = {
      out.write((x & 0xFF).toInt); out.write(((x >> 8) & 0xFF).toInt)
    }
    def le32(x: Long): Unit = { le16(x & 0xFFFF); le16((x >> 16) & 0xFFFF) }
    out.write("RIFF".getBytes, 0, 4); le32(dataLen + 36L)
    out.write("WAVEfmt ".getBytes, 0, 8); le32(16L)
    le16(if (v == 0) 7L else 1L); le16(1L)
    le32(8000L)
    le32(if (v == 0) 8000L else 16000L)
    le16(if (v == 0) 1L else 2L); le16(if (v == 0) 8L else 16L)
    out.write("data".getBytes, 0, 4); le32(dataLen.toLong)
    var i = 0L
    while (i < n) {
      if (v == 0) out.write(code(i).toInt)
      else le16(pmod(if (v == 1) ulawLin(code(i)) else ramp(i), 65536L))
      i += 1
    }
    val full = out.toByteArray
    if (pmod(docId, 10L) == 9L)
      full.take(44 + n - (if (v == 0) 10 else 0))
    else full
  }

  /** q381's IMA/DVI ADPCM payload: mono tag-0x11 WAV, blockAlign 16
    * (4-byte header + 12 nibble bytes → 25 samples per full block),
    * nblocks = doc%3 + 2; docs ≡ 1 (mod 4) end with a PARTIAL final
    * block (10 bytes → 13 samples). Per block b: initial predictor
    * ((doc·7 + b·131) % 65536) − 32768, step index (doc + 3b) % 89,
    * nibble byte k = (doc + b·5 + k·7 + 3) % 256 (low nibble first).
    * Corruption plants: doc%10==3 writes step index 120 into block
    * 0's header (past the 89-entry table — the kernel must NULL);
    * doc%11==7 truncates 3 bytes into the declared data (mid-data
    * truncation NULL).
    */
  def imaPayload(docId: Long): Array[Byte] = {
    val nBlocks = (docId % 3 + 2).toInt
    val partial = docId % 4 == 1
    val rate = 8000 + (docId % 3).toInt * 4000
    val blockLens = (0 until nBlocks).map(b =>
      if (partial && b == nBlocks - 1) 10 else 16)
    val dataLen = blockLens.sum
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    out.write("RIFF".getBytes, 0, 4); le32(4 + 28 + 8 + dataLen)
    out.write("WAVE".getBytes, 0, 4)
    out.write("fmt ".getBytes, 0, 4); le32(20)
    le16(0x11); le16(1); le32(rate)
    le32(rate * 16 / 25 / 2) // nominal avg bytes/sec (informative)
    le16(16); le16(4) // blockAlign, bits
    le16(2); le16(25) // cbSize, samples per full block
    out.write("data".getBytes, 0, 4); le32(dataLen)
    (0 until nBlocks).foreach { b =>
      val pred0 = ((docId * 7 + b * 131) % 65536 - 32768).toInt
      val idx0 =
        if (docId % 10 == 3 && b == 0) 120 else ((docId + 3 * b) % 89).toInt
      le16(pred0 & 0xFFFF)
      out.write(idx0); out.write(0)
      (0 until blockLens(b) - 4).foreach { k =>
        out.write(((docId + b * 5 + k * 7 + 3) % 256).toInt)
      }
    }
    val full = out.toByteArray
    if (docId % 11 == 7) full.take(full.length - 3) else full
  }

  /** q386's MS-ADPCM payload (tag 0x02): ch = 2 when doc%3==0 else 1,
    * rate = 11025·(doc%2 + 1), blockAlign = 7·ch + 12,
    * nblocks = doc%3 + 2; docs ≡ 1 (mod 4) end with a PARTIAL final
    * block (6 data bytes). Per block b, channel c: bPredictor
    * (doc + b + c) % 7, iDelta (doc·3 + b·17 + c·29) % 1000 + 16,
    * iSamp1 ((doc·7 + b·131 + c·37) % 65536) − 32768, iSamp2
    * ((doc·11 + b·57 + c·73) % 65536) − 32768; data byte k =
    * (doc + b·5 + k·7 + 3) % 256 (HIGH nibble first, channels
    * alternating per nibble in stereo). Corruption plants:
    * doc%10==3 writes bPredictor 9 (past the 7-entry tables);
    * doc%11==7 truncates 3 bytes into the declared data.
    */
  def msPayload(docId: Long): Array[Byte] = {
    val ch = if (docId % 3 == 0) 2 else 1
    val rate = (11025 * (docId % 2 + 1)).toInt
    val nBlocks = (docId % 3 + 2).toInt
    val partial = docId % 4 == 1
    val hdr = 7 * ch
    val dataLens = (0 until nBlocks).map(b =>
      if (partial && b == nBlocks - 1) 6 else 12)
    val dataLen = dataLens.map(hdr + _).sum
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    out.write("RIFF".getBytes, 0, 4); le32(4 + 28 + 8 + dataLen)
    out.write("WAVE".getBytes, 0, 4)
    out.write("fmt ".getBytes, 0, 4); le32(20)
    le16(0x02); le16(ch); le32(rate); le32(rate)
    le16(hdr + 12); le16(4) // blockAlign, bits
    le16(2); le16(0) // cbSize, wSamplesPerBlock (informative)
    out.write("data".getBytes, 0, 4); le32(dataLen)
    (0 until nBlocks).foreach { b =>
      (0 until ch).foreach { c =>
        val pred =
          if (docId % 10 == 3 && b == 0 && c == 0) 9
          else ((docId + b + c) % 7).toInt
        out.write(pred)
      }
      (0 until ch).foreach { c =>
        le16(((docId * 3 + b * 17 + c * 29) % 1000 + 16).toInt)
      }
      (0 until ch).foreach { c =>
        le16(((docId * 7 + b * 131 + c * 37) % 65536 - 32768).toInt & 0xFFFF)
      }
      (0 until ch).foreach { c =>
        le16(((docId * 11 + b * 57 + c * 73) % 65536 - 32768).toInt & 0xFFFF)
      }
      (0 until dataLens(b)).foreach { k =>
        out.write(((docId + b * 5 + k * 7 + 3) % 256).toInt)
      }
    }
    val full = out.toByteArray
    if (docId % 11 == 7) full.take(full.length - 3) else full
  }

  /** q388's FLAC payload — a FORWARD-direction fixed-predictor-subset
    * FLAC encoder (independent of [[graft.expressions.FlacKernel]]):
    * mono 16-bit, rate 8000 + (doc%5)·4000, TWO frames of
    * n1 = 2·(doc%20) + 40 and n2 = doc%30 + 30 samples. Frame f's
    * subframe kind = (doc + f) % 4:
    *   0 constant  v = (doc·11 + f·17) % 4000 − 2000
    *   1 verbatim  s_i = (doc·3 + i·257 + f·29) % 4096 − 2048
    *   2 fixed o1  s_0 = (doc + f·31) % 1000 − 500,
    *               r_i = (doc + i·7 + f·13) % 16 − 8   (rice param 4)
    *   3 fixed o2  s_0 = (doc + f·37) % 600 − 300,
    *               s_1 = s_0 + (doc + f) % 20 − 10,
    *               r_i = (doc + i·7 + f·13) % 5 − 2    (rice param 2)
    * Fixed subframes on frame 0 use partition order 1 (n1 is even),
    * frame 1 partition order 0. CRC bytes are zeros (the kernel reads
    * samples, it does not certify archives). Corruption plants:
    * doc%10==3 writes an LPC subframe type (out of the stated subset
    * — the kernel must NULL, loud not wrong); doc%11==7 truncates 4
    * bytes mid-frame.
    */
  def flacPayload(docId: Long): Array[Byte] = {
    val rate = 8000 + (docId % 5).toInt * 4000
    val n1 = 2 * (docId % 20).toInt + 40
    val n2 = (docId % 30).toInt + 30
    val bw = new java.io.ByteArrayOutputStream()
    var acc = 0; var nb = 0
    def putBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1L).toInt; nb += 1
        if (nb == 8) { bw.write(acc); acc = 0; nb = 0 }
        i -= 1
      }
    }
    def align(): Unit = if (nb > 0) putBits(0L, 8 - nb)
    // fLaC + STREAMINFO (last-metadata flag set)
    "fLaC".foreach(c => putBits(c.toLong, 8))
    putBits(1L, 1); putBits(0L, 7); putBits(34L, 24)
    putBits(n2.toLong, 16); putBits(n1.toLong, 16) // min/max blocksize
    putBits(0L, 24); putBits(0L, 24) // min/max framesize (unknown)
    putBits(rate.toLong, 20); putBits(0L, 3) // channels − 1 = 0
    putBits(15L, 5) // bps − 1 = 15
    putBits((n1 + n2).toLong, 36)
    (0 until 16).foreach(_ => putBits(0L, 8)) // MD5 (not certified)
    def rice(v: Long, param: Int): Unit = {
      val u = if (v < 0) -2 * v - 1 else 2 * v // zigzag
      val q = (u >> param).toInt
      (0 until q).foreach(_ => putBits(0L, 1)); putBits(1L, 1)
      putBits(u & ((1L << param) - 1), param)
    }
    def frame(f: Int, n: Int): Unit = {
      putBits(0x3FFEL, 14); putBits(0L, 1); putBits(0L, 1)
      putBits(6L, 4) // block size: 8-bit at end of header
      putBits(0L, 4) // rate from STREAMINFO
      putBits(0L, 4) // mono independent
      putBits(4L, 3) // 16-bit
      putBits(0L, 1)
      putBits(f.toLong, 8) // coded frame number (< 0x80: one byte)
      putBits((n - 1).toLong, 8)
      putBits(0L, 8) // CRC-8 (zeros)
      putBits(0L, 1) // subframe zero pad
      val kind = ((docId + f) % 4).toInt
      if (docId % 10 == 3 && f == 0) {
        // corruption plant: an LPC subframe (type 32 + order-1)
        putBits(32L, 6); putBits(0L, 1)
        putBits(0L, 16)
      } else kind match {
        case 0 =>
          putBits(0L, 6); putBits(0L, 1)
          putBits(((docId * 11 + f * 17) % 4000 - 2000) & 0xFFFFL, 16)
        case 1 =>
          putBits(1L, 6); putBits(0L, 1)
          (0 until n).foreach(i =>
            putBits(((docId * 3 + i * 257 + f * 29) % 4096 - 2048) & 0xFFFFL, 16))
        case 2 =>
          putBits(9L, 6); putBits(0L, 1) // fixed order 1
          putBits(((docId + f * 31) % 1000 - 500) & 0xFFFFL, 16)
          val po = if (f == 0) 1 else 0
          putBits(0L, 2); putBits(po.toLong, 4)
          var i = 1
          (0 until (1 << po)).foreach { p =>
            putBits(4L, 4)
            val count = (n >> po) - (if (p == 0) 1 else 0)
            (0 until count).foreach { _ =>
              rice((docId + i * 7 + f * 13) % 16 - 8, 4); i += 1
            }
          }
        case _ =>
          putBits(10L, 6); putBits(0L, 1) // fixed order 2
          val s0 = (docId + f * 37) % 600 - 300
          putBits(s0 & 0xFFFFL, 16)
          putBits((s0 + (docId + f) % 20 - 10) & 0xFFFFL, 16)
          val po = if (f == 0) 1 else 0
          putBits(0L, 2); putBits(po.toLong, 4)
          var i = 2
          (0 until (1 << po)).foreach { p =>
            putBits(2L, 4)
            val count = (n >> po) - (if (p == 0) 2 else 0)
            (0 until count).foreach { _ =>
              rice((docId + i * 7 + f * 13) % 5 - 2, 2); i += 1
            }
          }
      }
      align()
      putBits(0L, 16) // CRC-16 (zeros)
    }
    frame(0, n1)
    frame(1, n2)
    align()
    val full = bw.toByteArray
    if (docId % 11 == 7) full.take(full.length - 4) else full
  }

  /** q389's STEREO FLAC payload — verbatim subframes through all four
    * channel assignments (independent / left-side / right-side /
    * mid-side by doc % 4), two frames of n1 = doc%40 + 40 and
    * n2 = doc%20 + 33 samples per channel, target signals
    *   L_i = (doc·3 + i·257 + f·71) % 3000 − 1500
    *   R_i = (doc·5 + i·193 + f·101) % 3000 − 1500
    * encoded as the assignment's channel signals (side = L − R at 17
    * bits, mid = (L+R) >> 1 — arithmetic shift, the lossless
    * convention both directions share), so the DECODED output is
    * exactly L/R interleaved and the oracle replays the formulas with
    * no decorrelation model. Corruption plants: doc%10==3 writes the
    * reserved channel code 11; doc%11==7 truncates 4 bytes.
    */
  def flacStereoPayload(docId: Long): Array[Byte] = {
    val rate = 16000 + (docId % 3).toInt * 8000
    val n1 = (docId % 40).toInt + 40
    val n2 = (docId % 20).toInt + 33
    val bw = new java.io.ByteArrayOutputStream()
    var acc = 0; var nb = 0
    def putBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1L).toInt; nb += 1
        if (nb == 8) { bw.write(acc); acc = 0; nb = 0 }
        i -= 1
      }
    }
    def align(): Unit = if (nb > 0) putBits(0L, 8 - nb)
    "fLaC".foreach(c => putBits(c.toLong, 8))
    putBits(1L, 1); putBits(0L, 7); putBits(34L, 24)
    putBits(n2.toLong, 16); putBits(n1.toLong, 16)
    putBits(0L, 24); putBits(0L, 24)
    putBits(rate.toLong, 20); putBits(1L, 3) // channels − 1 = 1
    putBits(15L, 5)
    putBits((n1 + n2).toLong, 36)
    (0 until 16).foreach(_ => putBits(0L, 8))
    val chanCode =
      if (docId % 10 == 3) 11L // reserved: the corruption plant
      else Seq(1L, 8L, 9L, 10L)((docId % 4).toInt)
    def frame(f: Int, n: Int): Unit = {
      putBits(0x3FFEL, 14); putBits(0L, 2)
      putBits(6L, 4); putBits(0L, 4)
      putBits(chanCode, 4); putBits(4L, 3); putBits(0L, 1)
      putBits(f.toLong, 8)
      putBits((n - 1).toLong, 8)
      putBits(0L, 8) // CRC-8
      def l(i: Int) = (docId * 3 + i * 257 + f * 71) % 3000 - 1500
      def rr(i: Int) = (docId * 5 + i * 193 + f * 101) % 3000 - 1500
      // the two channel signals + their bit widths per assignment
      val (s0, w0, s1, w1): (Int => Long, Int, Int => Long, Int) =
        chanCode match {
          case 8L => (l _, 16, i => l(i) - rr(i), 17)
          case 9L => ((i => l(i) - rr(i)): Int => Long, 17, rr _, 16)
          case 10L =>
            ((i => (l(i) + rr(i)) >> 1): Int => Long, 16,
              i => l(i) - rr(i), 17)
          case _ => (l _, 16, rr _, 16)
        }
      def verbatim(sig: Int => Long, w: Int): Unit = {
        putBits(0L, 1); putBits(1L, 6); putBits(0L, 1)
        (0 until n).foreach(i => putBits(sig(i) & ((1L << w) - 1), w))
      }
      verbatim(s0, w0)
      verbatim(s1, w1)
      align()
      putBits(0L, 16)
    }
    frame(0, n1)
    frame(1, n2)
    align()
    val full = bw.toByteArray
    if (docId % 11 == 7) full.take(full.length - 4) else full
  }

  /** q387's STEREO IMA ADPCM payload: blockAlign 24 (8 header bytes +
    * 2 alternating 4-byte channel chunk pairs → 34 interleaved samples
    * per full block), rate = 8000 + (doc%3)·4000, nblocks = doc%3 + 2;
    * docs ≡ 1 (mod 4) end with a PARTIAL final block (8 data bytes =
    * one chunk pair → 18 samples). Per block b: left header pred
    * ((doc·7 + b·131) % 65536) − 32768 / index (doc + 3b) % 89, right
    * header pred ((doc·13 + b·59) % 65536) − 32768 / index
    * (doc·5 + 7b) % 89; data byte k = (doc + b·5 + k·7 + 3) % 256,
    * bytes with ⌊k/4⌋ even feeding the LEFT lane and odd the RIGHT
    * (low nibble first within each lane byte). Corruption plants:
    * doc%10==3 writes right step index 95; doc%11==7 truncates 3
    * bytes (breaking the chunk-pair rule).
    */
  def imaStereoPayload(docId: Long): Array[Byte] = {
    val rate = 8000 + (docId % 3).toInt * 4000
    val nBlocks = (docId % 3 + 2).toInt
    val partial = docId % 4 == 1
    val dataLens = (0 until nBlocks).map(b =>
      if (partial && b == nBlocks - 1) 8 else 16)
    val dataLen = dataLens.map(8 + _).sum
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    out.write("RIFF".getBytes, 0, 4); le32(4 + 28 + 8 + dataLen)
    out.write("WAVE".getBytes, 0, 4)
    out.write("fmt ".getBytes, 0, 4); le32(20)
    le16(0x11); le16(2); le32(rate); le32(rate)
    le16(24); le16(4) // blockAlign, bits
    le16(2); le16(17) // cbSize, samples per full block per channel
    out.write("data".getBytes, 0, 4); le32(dataLen)
    (0 until nBlocks).foreach { b =>
      le16(((docId * 7 + b * 131) % 65536 - 32768).toInt & 0xFFFF)
      out.write(((docId + 3 * b) % 89).toInt); out.write(0)
      le16(((docId * 13 + b * 59) % 65536 - 32768).toInt & 0xFFFF)
      val idxR =
        if (docId % 10 == 3 && b == 0) 95 else ((docId * 5 + 7 * b) % 89).toInt
      out.write(idxR); out.write(0)
      (0 until dataLens(b)).foreach { k =>
        out.write(((docId + b * 5 + k * 7 + 3) % 256).toInt)
      }
    }
    val full = out.toByteArray
    if (docId % 11 == 7) full.take(full.length - 3) else full
  }
}
