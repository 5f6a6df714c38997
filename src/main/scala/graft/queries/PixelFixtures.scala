package graft.queries

/** Constructed pixel payloads for the q342/q343-family gates — the
  * [[MediaQueries]] `mediaPayload` discipline taken down to PIXELS: every
  * image is built from doc_id arithmetic the DuckDB oracle replays
  * without ever touching a byte, and the CONSTRUCTION direction shares
  * no code with the decode kernel ([[graft.expressions.PixelKernel]]):
  *
  *  - construction applies PNG filters FORWARD (raw → filtered) and
  *    emits STORED-mode zlib blocks (RFC 1951 §3.2.4 — no Deflater,
  *    no compression) plus a hand-rolled Adler-32; the kernel inverts
  *    with `java.util.zip.Inflater` + the filter RECONSTRUCTION pass.
  *    An offset, endianness, filter, or checksum bug on either side
  *    breaks the round trip loudly.
  *  - BMP rows are written bottom-up with 4-byte stride padding; the
  *    kernel re-orders them to visual rows.
  *
  * Shared arithmetic (the oracle's contract — change BOTH sides):
  *   W(s) = s % 24 + 9            (9..32 — ≥ 9 so the dHash grid exists)
  *   H(s) = (s·5) % 24 + 8        (8..31)
  *   p(x, y, s) = ((x + s % 31) · (y + s % 37) · 3 + s) % 256
  *     — the x·y cross term curves the wavefronts differently per
  *     image, so dHashes are DIVERSE across docs (a plain linear ramp
  *     either repeats or wraps to flat mid-gray, collapsing thousands
  *     of docs onto a handful of dHashes and going quadratic in the
  *     q343 pair join — measured: 120k/294k chance pairs at sf0.1 for
  *     linear/steep ramps vs ~18 for this form)
  *   gray pixel  = p                         (PNG color type 0)
  *   RGB pixel   = (r, g, b) = (p, 3p % 256, 5p % 256)   (PNG ct 2 / BMP)
  *   PNG scanline y uses filter type y % 5 — all five spec filters
  *   (None/Sub/Up/Average/Paeth) appear in every image taller than 4.
  */
private[graft] object PixelFixtures {

  /** Payload sizes (the oracle predicts them): PNG = 68 + rawLen with
    * rawLen = H·(1 + W·bpp); BMP = 54 + H·stride.
    */
  def payload(docId: Long): Array[Byte] = {
    val full = (docId % 3) match {
      case 0 => pngGray(docId)
      case 1 => pngRgb(docId)
      case _ => bmp(docId)
    }
    // planted corruption: %10==7 truncates to 40 bytes — a PNG cut
    // mid-IDAT / a BMP cut before its pixel array; stats must be NULL
    if (docId % 10 == 7) full.take(40) else full
  }

  /** q343's near-duplicate construction: even ids are the base grayscale
    * PNG of pid = docId; odd ids re-render pid = docId − 1 with ONE
    * pixel edited (raw (0,0) bumped by +128 mod 256) — a byte-unequal
    * re-encode whose dHash differs in AT MOST bit 0 (pixel (0,0) lives
    * in grid cell (0,0), so only the cx 0↔1 comparison can flip).
    */
  def nearDupPayload(docId: Long): Array[Byte] = {
    val pid = docId - (docId % 2)
    pngGray(pid, editOrigin = docId % 2 == 1)
  }

  def width(s: Long): Int = (s % 24 + 9).toInt
  def height(s: Long): Int = ((s * 5) % 24 + 8).toInt

  private def pix(x: Int, y: Int, s: Long): Int =
    (((x + s % 31) * (y + s % 37) * 3 + s) % 256).toInt

  def pngGray(s: Long, editOrigin: Boolean = false): Array[Byte] = {
    val w = width(s); val h = height(s)
    val raw = Array.tabulate(h, w) { (y, x) =>
      val v = pix(x, y, s)
      if (editOrigin && x == 0 && y == 0) (v + 128) % 256 else v
    }
    png(w, h, colorType = 0, raw)
  }

  def pngRgb(s: Long): Array[Byte] = {
    val w = width(s); val h = height(s)
    val rows = Array.tabulate(h) { y =>
      (0 until w).flatMap { x =>
        val p = pix(x, y, s)
        Seq(p, p * 3 % 256, p * 5 % 256)
      }.toArray
    }
    png(w, h, colorType = 2, rows)
  }

  /** BMP 24bpp BI_RGB: 14-byte file header + BITMAPINFOHEADER(40),
    * rows bottom-up, BGR on disk, stride padded to 4.
    */
  def bmp(s: Long): Array[Byte] = {
    val w = width(s); val h = height(s)
    val stride = (w * 3 + 3) / 4 * 4
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >> 16) & 0xFFFF) }
    out.write('B'); out.write('M')
    le32(54 + h * stride) // file size
    le32(0) // reserved
    le32(54) // bfOffBits
    le32(40); le32(w); le32(h) // positive = bottom-up
    le16(1); le16(24) // planes, bpp
    le32(0); le32(h * stride) // BI_RGB, image size
    le32(2835); le32(2835); le32(0); le32(0) // ppm, palette counts
    var row = h - 1 // bottom-up: last visual row first on disk
    while (row >= 0) {
      var x = 0
      while (x < w) {
        val p = pix(x, row, s)
        out.write(p * 5 % 256); out.write(p * 3 % 256); out.write(p) // B G R
        x += 1
      }
      var pad = stride - w * 3
      while (pad > 0) { out.write(0); pad -= 1 }
      row -= 1
    }
    out.toByteArray
  }

  /** GIF89a with a 256-entry palette (entry i = (i, 3i%256, 5i%256) —
    * the SAME RGB-luminance arithmetic as the PNG/BMP fixtures, so the
    * oracle's formula is shared) and the pixel index stream
    * LZW-encoded the "uncompressed" way: an initial CLEAR, then every
    * index as a LITERAL code with a CLEAR every 250 literals so the
    * decoder's table never reaches 512 entries and the code width
    * stays 9 bits throughout. The ENCODER direction (literal stream +
    * LSB-first bit packing + sub-block chunking) shares no code with
    * the kernel's LZW table decode — a width, packing, or reset bug on
    * either side breaks the round trip loudly.
    */
  def gif(s: Long): Array[Byte] = {
    val w = width(s); val h = height(s)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    "GIF89a".foreach(c => out.write(c.toInt))
    le16(w); le16(h)
    out.write(0xF7) // GCT present, 2^(7+1) = 256 entries
    out.write(0); out.write(0) // bg, aspect
    (0 until 256).foreach { i =>
      out.write(i); out.write(i * 3 % 256); out.write(i * 5 % 256)
    }
    out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
    out.write(8) // LZW min code size: 256 literals, clear 256, eoi 257
    val codes = scala.collection.mutable.ArrayBuffer[Int](256)
    var sinceClear = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (sinceClear == 250) { codes += 256; sinceClear = 0 }
        codes += pix(x, y, s)
        sinceClear += 1
        x += 1
      }
      y += 1
    }
    codes += 257 // EOI
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nb = 0
    codes.foreach { c =>
      acc |= c.toLong << nb; nb += 9
      while (nb >= 8) { bits.write((acc & 0xFF).toInt); acc >>= 8; nb -= 8 }
    }
    if (nb > 0) bits.write((acc & 0xFF).toInt)
    bits.toByteArray.grouped(255).foreach { g =>
      out.write(g.length); out.write(g, 0, g.length)
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** q351's payload: the LZW GIF, with the %10==7 slice truncated to
    * 40 bytes (inside the color table) → NULL stats.
    */
  def gifPayload(docId: Long): Array[Byte] = {
    val full = gif(docId)
    if (docId % 10 == 7) full.take(40) else full
  }

  /** q363's payloads — images CARRYING privacy metadata the strip pass
    * must remove while pixels/dims come through intact:
    * %3==0 a [[pngGray]] with a tEXt chunk ("gps\0<doc_id>") spliced
    * after IHDR; %3==1 a JPEG with APP0 (JFIF — must be KEPT), an APP1
    * Exif block carrying orientation o = doc%8+1 (q344's layout), and
    * a 4-byte COM comment — both must go; %3==2 a bad-magic corruption
    * → NULL (a privacy pass must never silently pass unstripped
    * bytes).
    */
  def stripPayload(docId: Long): Array[Byte] = (docId % 3) match {
    case 0 => pngWithText(docId)
    case 1 => jpegWithExif(docId)
    case _ =>
      val g = pngGray(docId); g(0) = 0x00.toByte; g
  }

  def pngWithText(s: Long): Array[Byte] = {
    val base = pngGray(s)
    val data = ("gps\u0000" + s.toString)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, 33) // signature + IHDR (8 + 25)
    Seq(24, 16, 8, 0).foreach(sh => out.write((data.length >> sh) & 0xFF))
    "tEXt".foreach(c => out.write(c.toInt))
    out.write(data, 0, data.length)
    (0 until 4).foreach(_ => out.write(0)) // CRC zeros
    out.write(base, 33, base.length - 33)
    out.toByteArray
  }

  /** SOI + APP0/JFIF(18) + APP1/Exif(36: "Exif\0\0" + the q344 26-byte
    * MM TIFF whose IFD0 carries ONLY orientation) + COM(8) + SOF0(19)
    * + EOI = 85 bytes; w/h/o from doc arithmetic.
    */
  def jpegWithExif(s: Long): Array[Byte] = {
    val w = (s % 991 + 1).toInt
    val h = ((s * 7) % 737 + 1).toInt
    val o = (s % 8 + 1).toInt
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def be16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u8(0xFF); u8(0xD8)
    u8(0xFF); u8(0xE0); be16(16) // APP0 JFIF (kept by the strip)
    "JFIF".foreach(c => u8(c.toInt)); u8(0)
    u8(1); u8(2); u8(0); be16(1); be16(1); u8(0); u8(0)
    u8(0xFF); u8(0xE1); be16(0x22) // APP1 Exif (stripped)
    "Exif".foreach(c => u8(c.toInt)); u8(0); u8(0)
    "MM".foreach(c => u8(c.toInt)); be16(0x2A)
    be16(0); be16(8) // IFD offset 8 (BE32)
    be16(1) // one entry
    be16(274); be16(3); be16(0); be16(1); be16(o); be16(0)
    be16(0); be16(0) // next IFD 0
    u8(0xFF); u8(0xFE); be16(6) // COM "note" (stripped)
    "note".foreach(c => u8(c.toInt))
    u8(0xFF); u8(0xC0); be16(0x11); u8(8) // SOF0
    be16(h); be16(w)
    u8(3)
    Seq(1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1).foreach(u8)
    u8(0xFF); u8(0xD9)
    out.toByteArray
  }

  /** Assemble a PNG: signature, IHDR, one IDAT (stored-mode zlib of the
    * FORWARD-filtered scanlines, filter type y % 5), IEND. Chunk CRCs
    * are zeros — the kernel's contract reads pixels, it does not
    * certify archives.
    */
  /** Baseline JPEG ENCODER for the q372 fixtures — forward direction,
    * shares no code with [[graft.expressions.JpegKernel]]: the marker
    * layout, the CUSTOM canonical Huffman tables (12 DC categories at
    * code length 4; a single length-1 AC code for EOB — spec-legal,
    * and an encoder-side table the decoder must build canonically to
    * read at all), the bit packing with 0xFF00 stuffing, and optional
    * FFD0–D7 restart lanes are all hand-written here. Blocks are
    * DC-ONLY (every AC coefficient EOBs away), so the kernel's PINNED
    * fixed-point IDCT collapses to the closed form the oracle replays:
    *   value(bx,by) = clamp(⌊(dc·8·1448² + 2^23)/2^24⌋, −128, 127) + 128
    *   dc(bx,by)    = pix(bx,by,s) − 128   (the shared arithmetic)
    * `color=true` writes a three-component image with NEUTRAL chroma
    * (Cb=Cr DC 0 → sample 128 → the integer JFIF matrix yields
    * R=G=B=Y), so gray and color fixtures share one luminance formula;
    * `subsample=true` makes it 4:2:0 — per MCU, FOUR Y blocks (the
    * by-outer/bx-inner interleave order of A.2.3) plus one Cb and one
    * Cr, the web's dominant chroma layout and the place a wrong MCU
    * walk scrambles every block assignment (padding blocks past the
    * visible area stay in the DC difference chain, so the walk cannot
    * skip them either). Neutral constant chroma upsamples to itself
    * under ANY convention, so the luminance formula is still shared;
    * `big=true` switches to w = s%24+72, h = (s·5)%24+64 — a block
    * grid of ≥ 9×8, so every dHash CELL comparison crosses a block
    * boundary and the hash carries full entropy (the q374 lesson:
    * with the small dims, block-constant pixels leave most cell
    * comparisons inside one block — ~10 informative bits, and a
    * 12k-image corpus collapsed into ~925k chance pairs; the q342
    * diversity lesson at BLOCK granularity).
    */
  def jpeg(s: Long, color: Boolean, rstInterval: Int,
           subsample: Boolean = false, big: Boolean = false): Array[Byte] = {
    val w = if (big) (s % 24 + 72).toInt else width(s)
    val h = if (big) ((s * 5) % 24 + 64).toInt else height(s)
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u16(0xFFD8)
    u16(0xFFDB); u16(2 + 1 + 64); u8(0x00) // DQT: Pq=0, Tq=0
    u8(8); (1 until 64).foreach(_ => u8(16)) // q[0]=8 (zigzag first)
    val nf = if (color) 3 else 1
    val yHV = if (subsample) 0x22 else 0x11
    u16(0xFFC0); u16(8 + 3 * nf); u8(8); u16(h); u16(w); u8(nf)
    (1 to nf).foreach { cid =>
      u8(cid); u8(if (cid == 1) yHV else 0x11); u8(0)
    }
    u16(0xFFC4); u16(2 + 1 + 16 + 12); u8(0x00) // DHT DC 0
    (1 to 16).foreach(l => u8(if (l == 4) 12 else 0))
    (0 to 11).foreach(u8)
    u16(0xFFC4); u16(2 + 1 + 16 + 1); u8(0x10) // DHT AC 0: EOB only
    (1 to 16).foreach(l => u8(if (l == 1) 1 else 0))
    u8(0x00)
    if (rstInterval > 0) { u16(0xFFDD); u16(4); u16(rstInterval) }
    u16(0xFFDA); u16(6 + 2 * nf); u8(nf)
    (1 to nf).foreach { cid => u8(cid); u8(0x00) }
    u8(0); u8(63); u8(0)
    var acc = 0; var nb = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) {
          u8(acc)
          if (acc == 0xFF) u8(0x00) // entropy-data byte stuffing
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    def flushBits(): Unit = if (nb > 0) {
      acc = (acc << (8 - nb)) | ((1 << (8 - nb)) - 1) // pad with 1s
      u8(acc); if (acc == 0xFF) u8(0x00)
      acc = 0; nb = 0
    }
    val preds = new Array[Int](nf)
    var rstCount = 0
    var mcu = 0
    def encodeBlock(c: Int, dc: Int): Unit = {
      val diff = dc - preds(c); preds(c) = dc
      val ss =
        if (diff == 0) 0
        else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      putBits(ss, 4) // DC category: canonical code = category
      if (ss > 0)
        putBits(if (diff >= 0) diff else diff + (1 << ss) - 1, ss)
      putBits(0, 1) // AC: EOB immediately (DC-only block)
    }
    val yH = if (subsample) 2 else 1
    val mcusX = (w + 8 * yH - 1) / (8 * yH)
    val mcusY = (h + 8 * yH - 1) / (8 * yH)
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (rstInterval > 0 && mcu > 0 && mcu % rstInterval == 0) {
          flushBits(); u16(0xFFD0 + (rstCount & 7)); rstCount += 1
          java.util.Arrays.fill(preds, 0)
        }
        // Y blocks, by-outer/bx-inner (A.2.3); padding blocks past the
        // visible block grid still carry the shared-formula DC
        var by2 = 0
        while (by2 < yH) {
          var bx2 = 0
          while (bx2 < yH) {
            encodeBlock(0, pix(mx * yH + bx2, my * yH + by2, s) - 128)
            bx2 += 1
          }
          by2 += 1
        }
        var c = 1
        while (c < nf) { encodeBlock(c, 0); c += 1 } // neutral chroma
        mcu += 1
        mx += 1
      }
      my += 1
    }
    flushBits()
    u16(0xFFD9)
    out.toByteArray
  }

  /** PROGRESSIVE JPEG ENCODER for the q376 fixtures (round 16) —
    * forward direction, shares no code with
    * [[graft.expressions.JpegKernel]]. Emits an SOF2 frame whose
    * blocks carry the shared DC formula PLUS two AC coefficients —
    * zigzag 1 (u=1: horizontal base function) and zigzag 20 (v=5:
    * vertical) — so every progressive scan kind actually carries
    * signal, and the 18-position zero gap between them forces ZRL
    * codes through both AC passes:
    *
    *   scan 1: DC first, interleaved, Al=1   (diffs of dc >> 1)
    *   per component: AC first, band 1..63, Al=1
    *     (point-transformed magnitudes; blocks whose band shifts to
    *     zero join EOBRUN runs — exercised across blocks)
    *   scan: DC refinement, Ah=1 → Al=0      (raw low bit per block)
    *   per component: AC refinement, band 1..63, Ah=1 → Al=0
    *     (G.1.2.2 encoder: newly-significant ±1 codes, correction
    *     bits emitted in the decoder's inner-loop span order, EOBRUN
    *     accumulation with per-block tail bits — flushed before any
    *     symbol, restart lane, or scan end)
    *
    * The AC Huffman table holds 64 seven-bit codes (EOBn 0..14, ZRL,
    * run 0–15 × size 1–3) — canonical, Kraft-safe, no all-ones code.
    * With quant q(zz1)=q(zz20)=16, the pinned IDCT gives the closed
    * form the oracle replays per pixel:
    *   acc = 2096704·8·dc + 23168·(K1(x%8)·a1 + K5(y%8)·a2)
    *   val = clamp(⌊(acc + 2^23)/2^24⌋, −128, 127) + 128
    * with K1 = [2009,1703,1138,400,−400,−1138,−1703,−2009] and
    * K5 = [1138,−2009,400,1703,−1703,−400,2009,−1138] (u=1 and u=5
    * fixed-point IDCT basis rows — public constants of the contract).
    * Variants: gray, neutral-chroma 4:4:4 (chroma all-zero → its AC
    * scans are pure EOBRUN streams), gray with restart lanes (RSTn in
    * every scan, predictor AND EOBRUN reset), and 4:2:0 color (DC
    * scan interleaved over the padded MCU grid, AC scans over each
    * component's OWN cw×ch raster — the grid-mismatch walk).
    */
  def progressiveJpeg(s: Long, color: Boolean, rstInterval: Int,
                      subsample: Boolean = false): Array[Byte] = {
    val w = width(s)
    val h = height(s)
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u16(0xFFD8)
    u16(0xFFDB); u16(2 + 1 + 64); u8(0x00)
    u8(8); (1 until 64).foreach(_ => u8(16)) // q[0]=8, rest 16
    val nf = if (color) 3 else 1
    val yH = if (subsample) 2 else 1
    u16(0xFFC2); u16(8 + 3 * nf); u8(8); u16(h); u16(w); u8(nf)
    (1 to nf).foreach { cid =>
      u8(cid); u8(if (cid == 1) yH * 16 + yH else 0x11); u8(0)
    }
    u16(0xFFC4); u16(2 + 1 + 16 + 12); u8(0x00) // DHT DC 0
    (1 to 16).foreach(l => u8(if (l == 4) 12 else 0))
    (0 to 11).foreach(u8)
    // DHT AC 0: 64 values, all code length 7 (canonical order below)
    val acVals: Array[Int] =
      (0 to 14).map(_ << 4).toArray ++ Array(0xF0) ++
        (for (run <- 0 to 15; sz <- 1 to 3) yield (run << 4) | sz)
    val acIdx: Map[Int, Int] = acVals.zipWithIndex.toMap
    u16(0xFFC4); u16(2 + 1 + 16 + acVals.length); u8(0x10)
    (1 to 16).foreach(l => u8(if (l == 7) acVals.length else 0))
    acVals.foreach(u8)
    if (rstInterval > 0) { u16(0xFFDD); u16(4); u16(rstInterval) }

    var acc = 0; var nb = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) {
          u8(acc); if (acc == 0xFF) u8(0x00)
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    def flushBits(): Unit = if (nb > 0) {
      acc = (acc << (8 - nb)) | ((1 << (8 - nb)) - 1)
      u8(acc); if (acc == 0xFF) u8(0x00)
      acc = 0; nb = 0
    }
    def putAc(rs: Int): Unit = putBits(acIdx(rs), 7)

    // per-block coefficients: Y carries signal, chroma is neutral zero
    def dcOf(ci: Int, bx: Int, by: Int): Int =
      if (ci == 0) pix(bx, by, s) - 128 else 0
    def a1Of(ci: Int, bx: Int, by: Int): Int =
      if (ci == 0) ((bx + 2 * by + s) % 9 - 4).toInt else 0
    def a2Of(ci: Int, bx: Int, by: Int): Int =
      if (ci == 0) ((3 * bx + by + 2 * s) % 7 - 3).toInt else 0

    val mcusX = (w + 8 * yH - 1) / (8 * yH)
    val mcusY = (h + 8 * yH - 1) / (8 * yH)
    def cwOf(ci: Int): Int = // component's own block raster width
      if (ci == 0) (w + 7) / 8
      else ((w + yH - 1) / yH + 7) / 8
    def chOf(ci: Int): Int =
      if (ci == 0) (h + 7) / 8
      else ((h + yH - 1) / yH + 7) / 8

    var rstCount = 0
    def sos(compIds: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      u16(0xFFDA); u16(6 + 2 * compIds.length); u8(compIds.length)
      compIds.foreach { cid => u8(cid); u8(0x00) }
      u8(ss); u8(se); u8((ah << 4) | al)
      rstCount = 0 // the RSTn modulo-8 sequence restarts at every scan
    }
    def lane(unit: Int, onReset: () => Unit): Unit =
      if (rstInterval > 0 && unit > 0 && unit % rstInterval == 0) {
        flushBits(); u16(0xFFD0 + (rstCount & 7)); rstCount += 1
        onReset()
      }

    // ---- scan 1: DC first (Al=1), every component ----
    sos(1 to nf, 0, 0, 0, 1)
    val preds = new Array[Int](nf)
    def encDcDiff(ci: Int, v: Int): Unit = {
      val diff = v - preds(ci); preds(ci) = v
      val cat =
        if (diff == 0) 0
        else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      putBits(cat, 4)
      if (cat > 0)
        putBits(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
    }
    if (nf > 1) {
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        lane(mcu, () => java.util.Arrays.fill(preds, 0))
        val mx = mcu % mcusX; val my = mcu / mcusX
        var by = 0
        while (by < yH) {
          var bx = 0
          while (bx < yH) {
            encDcDiff(0, dcOf(0, mx * yH + bx, my * yH + by) >> 1)
            bx += 1
          }
          by += 1
        }
        (1 until nf).foreach(ci => encDcDiff(ci, 0))
        mcu += 1
      }
    } else {
      val cw = cwOf(0); val n = cw * chOf(0)
      var unit = 0
      while (unit < n) {
        lane(unit, () => java.util.Arrays.fill(preds, 0))
        encDcDiff(0, dcOf(0, unit % cw, unit / cw) >> 1)
        unit += 1
      }
    }
    flushBits()

    // ---- AC scans: per component, band 1..63 ----
    // The Y band is sparse: a1 at zigzag 1, a2 at zigzag 20 — the
    // 18-position zero gap makes ZRL codes appear in both the first
    // pass and the refinement (run > 15), and the tail past zigzag 20
    // keeps EOBRUN live on every block.
    val bandLo = 1; val bandHi = 63
    def bandVal(ci: Int, bx: Int, by: Int)(k: Int): Int =
      if (k == 1) a1Of(ci, bx, by)
      else if (k == 20) a2Of(ci, bx, by)
      else 0

    // EOBRUN machinery: eobBits are the correction bits of blocks the
    // pending EOB run covers, emitted right after the EOBn code — the
    // order the decoder consumes them in (G.1.2.3)
    var eobrun = 0
    val eobBits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flushEob(): Unit = {
      if (eobrun > 0) {
        val n = 31 - Integer.numberOfLeadingZeros(eobrun)
        putAc(n << 4)
        if (n > 0) putBits(eobrun - (1 << n), n)
        eobrun = 0
        eobBits.foreach(putBits(_, 1)); eobBits.clear()
      }
    }

    // first pass (Al=1): plain run-length over point-transformed values
    def acFirstBlock(vals: Int => Int): Unit = {
      def pt(a: Int): Int = if (a >= 0) a >> 1 else -((-a) >> 1)
      var k = bandLo
      var done = false
      while (!done) {
        var p = k
        while (p <= bandHi && pt(vals(p)) == 0) p += 1
        if (p > bandHi) { eobrun += 1; done = true } // zero tail → EOB
        else {
          flushEob()
          var zeros = p - k
          while (zeros > 15) { putAc(0xF0); zeros -= 16 }
          val v = pt(vals(p))
          val cat = 32 - Integer.numberOfLeadingZeros(math.abs(v))
          putAc((zeros << 4) | cat)
          putBits(if (v >= 0) v else v + (1 << cat) - 1, cat)
          k = p + 1
          if (k > bandHi) done = true // band ended ON a symbol: no EOB
        }
      }
    }

    // refinement (Ah=1→Al=0): mirrors the decoder's inner-loop walk so
    // every correction bit lands in the span of the symbol during
    // which the decoder reads it (ZRL spans consume 16 zero-history
    // positions, correcting old coefficients along the way)
    def acRefineBlock(vals: Int => Int): Unit = {
      def hist(k: Int): Int = math.abs(vals(k)) >> 1
      def low(k: Int): Int = math.abs(vals(k)) & 1
      var k = bandLo
      var done = false
      while (!done) {
        var p = k
        while (p <= bandHi && !(hist(p) == 0 && low(p) == 1)) p += 1
        if (p > bandHi) {
          var j = k
          while (j <= bandHi) { if (hist(j) != 0) eobBits += low(j); j += 1 }
          eobrun += 1
          done = true
        } else {
          flushEob()
          var zeros = 0
          var j = k
          while (j < p) { if (hist(j) == 0) zeros += 1; j += 1 }
          while (zeros > 15) {
            putAc(0xF0)
            var consumed = 0
            while (consumed < 16) {
              if (hist(k) != 0) putBits(low(k), 1) else consumed += 1
              k += 1
            }
            zeros -= 16
          }
          putAc((zeros << 4) | 1)
          putBits(if (vals(p) > 0) 1 else 0, 1)
          while (k < p) { if (hist(k) != 0) putBits(low(k), 1); k += 1 }
          k = p + 1
          if (k > bandHi) done = true // band ended ON the new coefficient
        }
      }
    }

    def acScan(ci: Int, refine: Boolean): Unit = {
      sos(Seq(ci + 1), bandLo, bandHi, if (refine) 1 else 0, if (refine) 0 else 1)
      eobrun = 0; eobBits.clear()
      val cw = cwOf(ci); val n = cw * chOf(ci)
      var unit = 0
      while (unit < n) {
        if (rstInterval > 0 && unit > 0 && unit % rstInterval == 0) {
          flushEob(); flushBits()
          u16(0xFFD0 + (rstCount & 7)); rstCount += 1
        }
        val vals = bandVal(ci, unit % cw, unit / cw) _
        if (refine) acRefineBlock(vals) else acFirstBlock(vals)
        unit += 1
      }
      flushEob(); flushBits()
    }

    (0 until nf).foreach(acScan(_, refine = false))

    // ---- DC refinement (Ah=1, Al=0): raw low bit per block ----
    sos(1 to nf, 0, 0, 1, 0)
    if (nf > 1) {
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        lane(mcu, () => ())
        val mx = mcu % mcusX; val my = mcu / mcusX
        var by = 0
        while (by < yH) {
          var bx = 0
          while (bx < yH) {
            putBits(dcOf(0, mx * yH + bx, my * yH + by) & 1, 1)
            bx += 1
          }
          by += 1
        }
        (1 until nf).foreach(_ => putBits(0, 1))
        mcu += 1
      }
    } else {
      val cw = cwOf(0); val n = cw * chOf(0)
      var unit = 0
      while (unit < n) {
        lane(unit, () => ())
        putBits(dcOf(0, unit % cw, unit / cw) & 1, 1)
        unit += 1
      }
    }
    flushBits()

    // ---- AC refinement (Ah=1, Al=0): per component, band 1..63 ----
    (0 until nf).foreach(acScan(_, refine = true))

    u16(0xFFD9)
    out.toByteArray
  }

  /** q376's payload: gray / neutral-chroma 4:4:4 / gray with restart
    * lanes every 3 units / 4:2:0 color (v = doc%4); %10==7 truncates
    * to 40 bytes — mid-DQT, NULL.
    */
  def progressiveJpegPayload(docId: Long): Array[Byte] = {
    val full = (docId % 4) match {
      case 0 => progressiveJpeg(docId, color = false, rstInterval = 0)
      case 1 => progressiveJpeg(docId, color = true, rstInterval = 0)
      case 2 => progressiveJpeg(docId, color = false, rstInterval = 3)
      case _ => progressiveJpeg(docId, color = true, rstInterval = 0,
        subsample = true)
    }
    if (docId % 10 == 7) full.take(40) else full
  }

  /** q372's payload: gray / neutral-chroma 4:4:4 color / gray with
    * restart lanes every 2 MCUs / 4:2:0 color (v = doc%4); %10==7
    * truncates to 40 bytes — mid-DQT, NULL.
    */
  def jpegPayload(docId: Long): Array[Byte] = {
    val full = (docId % 4) match {
      case 0 => jpeg(docId, color = false, rstInterval = 0)
      case 1 => jpeg(docId, color = true, rstInterval = 0)
      case 2 => jpeg(docId, color = false, rstInterval = 2)
      case _ => jpeg(docId, color = true, rstInterval = 0,
        subsample = true)
    }
    if (docId % 10 == 7) full.take(40) else full
  }

  /** q368's payload: the three round-15 PNG color types plus a CORRUPT
    * short-palette plant. v = doc%4: 0 → 256-entry palette, 1 →
    * gray+alpha, 2 → RGBA, 3 → a 64-entry palette whose index stream
    * still ranges over 0..255 — corrupt exactly when any index ≥ 64
    * (the oracle replays that predicate as max(p) ≥ 64). doc%10==7
    * truncates to 40 bytes as in [[payload]].
    */
  def paletteAlphaPayload(docId: Long): Array[Byte] = {
    val full = (docId % 4) match {
      case 0 => pngPalette(docId)
      case 1 => pngGrayAlpha(docId)
      case 2 => pngRgba(docId)
      case _ => pngPalette(docId, entries = 64)
    }
    if (docId % 10 == 7) full.take(40) else full
  }

  /** PNG color type 3 (palette): index stream = the shared p(x,y,s)
    * arithmetic, PLTE entry i = (i, 3i%256, 5i%256) — the SAME palette
    * arithmetic as the GIF fixture, so the oracle's RGB-luminance
    * formula is shared. `entries` < 256 with an index ≥ entries
    * present makes the payload CORRUPT (the kernel's up-front index
    * validation must NULL it, never read past the PLTE).
    */
  def pngPalette(s: Long, entries: Int = 256): Array[Byte] = {
    val w = width(s); val h = height(s)
    val raw = Array.tabulate(h, w)((y, x) => pix(x, y, s))
    val plte = Array.tabulate(entries * 3) { k =>
      val i = k / 3
      (k % 3 match { case 0 => i; case 1 => i * 3 % 256; case _ => i * 5 % 256 }).toByte
    }
    png(w, h, colorType = 3, raw, plte = Some(plte))
  }

  /** PNG color type 4 (gray+alpha): gray = p, alpha = (7p+13) % 256 —
    * present in the bytes, IGNORED by the luminance contract.
    */
  def pngGrayAlpha(s: Long): Array[Byte] = {
    val w = width(s); val h = height(s)
    val rows = Array.tabulate(h) { y =>
      (0 until w).flatMap { x =>
        val p = pix(x, y, s)
        Seq(p, (7 * p + 13) % 256)
      }.toArray
    }
    png(w, h, colorType = 4, rows)
  }

  /** PNG color type 6 (RGBA): RGB = the shared (p, 3p%256, 5p%256),
    * alpha = (7p+13) % 256 ignored.
    */
  def pngRgba(s: Long): Array[Byte] = {
    val w = width(s); val h = height(s)
    val rows = Array.tabulate(h) { y =>
      (0 until w).flatMap { x =>
        val p = pix(x, y, s)
        Seq(p, p * 3 % 256, p * 5 % 256, (7 * p + 13) % 256)
      }.toArray
    }
    png(w, h, colorType = 6, rows)
  }

  /** Generalized PNG builder (round 16): any depth (8/16), any
    * interlace method (0 none / 1 Adam7), pixel bytes supplied per
    * (x, y) in wire order (big-endian samples for depth 16). Forward
    * direction like [[png]]: each pass's scanlines are
    * forward-filtered independently (filter type cycles with the
    * GLOBAL row counter so all five types appear in every pass chain),
    * stored-mode zlib, CRC-zero chunks. The Adam7 pass split and the
    * §9 filtering here are the ENCODE direction — no code shared with
    * the kernel's reconstruct-and-scatter.
    */
  private def pngMulti(w: Int, h: Int, colorType: Int, depth: Int,
                       interlace: Int,
                       pixelBytes: (Int, Int) => Array[Int],
                       plte: Option[Array[Byte]] = None): Array[Byte] = {
    val samples = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case _ => 4
    }
    // sub-byte rows pack `pixelBytes`' single SAMPLE VALUE per pixel
    // MSB-first (§7.2); byte depths lay samples out verbatim
    val bpp = if (depth >= 8) samples * (depth / 8) else 1
    val passes =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val filtered = new java.io.ByteArrayOutputStream()
    var globalRow = 0
    passes.foreach { case (x0, y0, dx, dy) =>
      val wp = if (w <= x0) 0 else (w - x0 + dx - 1) / dx
      val hp = if (h <= y0) 0 else (h - y0 + dy - 1) / dy
      if (wp > 0 && hp > 0) {
        val rb = if (depth >= 8) wp * bpp else (wp * depth + 7) / 8
        val rows = Array.tabulate(hp) { j =>
          if (depth >= 8)
            (0 until wp).flatMap(i =>
              pixelBytes(x0 + i * dx, y0 + j * dy)).toArray
          else {
            val packed = new Array[Int](rb)
            (0 until wp).foreach { i =>
              val v = pixelBytes(x0 + i * dx, y0 + j * dy)(0)
              val bit = i * depth
              packed(bit >> 3) |= (v & ((1 << depth) - 1)) <<
                (8 - depth - (bit & 7))
            }
            packed
          }
        }
        var j = 0
        while (j < hp) {
          val f = globalRow % 5
          filtered.write(f)
          var k = 0
          while (k < rb) {
            val cur = rows(j)(k)
            val left = if (k >= bpp) rows(j)(k - bpp) else 0
            val up = if (j > 0) rows(j - 1)(k) else 0
            val ul = if (j > 0 && k >= bpp) rows(j - 1)(k - bpp) else 0
            val v = f match {
              case 0 => cur
              case 1 => cur - left
              case 2 => cur - up
              case 3 => cur - ((left + up) >> 1)
              case 4 =>
                val p = left + up - ul
                val pa = math.abs(p - left); val pb = math.abs(p - up)
                val pc = math.abs(p - ul)
                val pred = if (pa <= pb && pa <= pc) left
                else if (pb <= pc) up else ul
                cur - pred
            }
            filtered.write(v & 0xFF)
            k += 1
          }
          globalRow += 1
          j += 1
        }
      }
    }
    val idat = zlibStored(filtered.toByteArray)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte), 0, 8)
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def chunk(typ: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      typ.foreach(c => out.write(c.toInt))
      out.write(data, 0, data.length)
      be32(0L)
    }
    val ihdr = new java.io.ByteArrayOutputStream()
    Seq((w >> 24) & 0xFF, (w >> 16) & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      (h >> 24) & 0xFF, (h >> 16) & 0xFF, (h >> 8) & 0xFF, h & 0xFF,
      depth, colorType, 0, 0, interlace).foreach(ihdr.write)
    chunk("IHDR", ihdr.toByteArray)
    plte.foreach(p => chunk("PLTE", p))
    chunk("IDAT", idat)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** q379 fixture slices — the SUB-BYTE PNG layouts: gray at depths
    * 1/2/4 (sample = pix % 2^d, displayed per the spec's
    * v·255/(2^d−1) mapping) and a 4-bit 16-entry palette (index =
    * pix % 16, entry i = (i, 3i%256, 5i%256) — the shared palette
    * arithmetic), the 2-bit variant Adam7-INTERLACED so bit packing
    * and the pass scatter compose.
    */
  def pngSubGray(s: Long, depth: Int, interlace: Int = 0): Array[Byte] =
    pngMulti(width(s), height(s), 0, depth, interlace,
      (x, y) => Array(pix(x, y, s) % (1 << depth)))

  def pngSub4Palette(s: Long): Array[Byte] =
    pngMulti(width(s), height(s), 3, 4, 0,
      (x, y) => Array(pix(x, y, s) % 16),
      plte = Some(Array.tabulate(48)(i => (i / 3 match {
        case e if i % 3 == 0 => e
        case e if i % 3 == 1 => e * 3 % 256
        case e => e * 5 % 256
      }).toByte)))

  /** q379's payload: 1-bit gray / 2-bit gray Adam7 / 4-bit gray /
    * 4-bit palette (v = doc%4); %10==7 truncates to 40 bytes.
    */
  def pngSubBytePayload(docId: Long): Array[Byte] = {
    val full = (docId % 4) match {
      case 0 => pngSubGray(docId, 1)
      case 1 => pngSubGray(docId, 2, interlace = 1)
      case 2 => pngSubGray(docId, 4)
      case _ => pngSub4Palette(docId)
    }
    if (docId % 10 == 7) full.take(40) else full
  }

  /** q377 fixture slices: 16-bit depths (high byte = the shared pixel
    * arithmetic, LOW byte a different arithmetic the high-byte
    * reduction must ignore) and Adam7 interlace, both gray and RGB,
    * including the 16-bit+Adam7 combination.
    */
  def png16Gray(s: Long): Array[Byte] =
    pngMulti(width(s), height(s), 0, 16, 0,
      (x, y) => Array(pix(x, y, s), (x * 7 + y * 3 + s % 256).toInt % 256))

  def png16Rgb(s: Long): Array[Byte] =
    pngMulti(width(s), height(s), 2, 16, 0, (x, y) => {
      val p = pix(x, y, s)
      Array(p, (x + y) % 256, p * 3 % 256, (x * 5 + s % 251).toInt % 256,
        p * 5 % 256, (y * 11 + 3) % 256)
    })

  def pngAdam7Gray(s: Long): Array[Byte] =
    pngMulti(width(s), height(s), 0, 8, 1,
      (x, y) => Array(pix(x, y, s)))

  def png16Adam7Rgb(s: Long): Array[Byte] =
    pngMulti(width(s), height(s), 2, 16, 1, (x, y) => {
      val p = pix(x, y, s)
      Array(p, (x * 3 + y) % 256, p * 3 % 256, (y * 7 + s % 97).toInt % 256,
        p * 5 % 256, (x + 2 * y + 5) % 256)
    })

  /** Solid-fill grayscale PNG — every pixel `v`. ANY flat image
    * dHashes to 0 (all cell averages equal, no comparison fires), so a
    * corpus slice of these is the constant-image FLOOD that saturates
    * every (band, nib=0) bucket — the q378 occupancy-guard hazard.
    */
  def pngSolid(s: Long, v: Int): Array[Byte] =
    pngMulti(width(s), height(s), 0, 8, 0, (_, _) => Array(v))

  /** q378's payload: doc%5 ∈ {0,1,2} → the SAME solid fill (the
    * logo/flat-fill pile-up — 60% of the corpus in one dHash-0 exact
    * group, saturating all four of its band buckets), else the q343
    * near-dup payload (pairs (2m, 2m+1) within Hamming ≤ 2, exercising
    * the guarded banded path outside the flood).
    */
  def floodPayload(docId: Long): Array[Byte] =
    if (docId % 5 <= 2) pngSolid(docId, 200)
    else nearDupPayload(docId)

  /** q377's payload: 16-bit gray / 16-bit RGB / Adam7 gray /
    * 16-bit+Adam7 RGB (v = doc%4); %10==7 truncates to 40 bytes.
    */
  def pngDeepPayload(docId: Long): Array[Byte] = {
    val full = (docId % 4) match {
      case 0 => png16Gray(docId)
      case 1 => png16Rgb(docId)
      case 2 => pngAdam7Gray(docId)
      case _ => png16Adam7Rgb(docId)
    }
    if (docId % 10 == 7) full.take(40) else full
  }

  private def png(w: Int, h: Int, colorType: Int,
                  rows: Array[Array[Int]],
                  plte: Option[Array[Byte]] = None): Array[Byte] = {
    val bpp = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case _ => 4
    }
    val rb = w * bpp
    // forward filtering (PNG §9 encode direction): predictions read the
    // RAW bytes of the current and prior scanline
    val filtered = new Array[Byte](h * (1 + rb))
    var y = 0
    while (y < h) {
      val f = y % 5
      filtered(y * (1 + rb)) = f.toByte
      var k = 0
      while (k < rb) {
        val cur = rows(y)(k)
        val left = if (k >= bpp) rows(y)(k - bpp) else 0
        val up = if (y > 0) rows(y - 1)(k) else 0
        val ul = if (y > 0 && k >= bpp) rows(y - 1)(k - bpp) else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) left
            else if (pb <= pc) up else ul
            cur - pred
        }
        filtered(y * (1 + rb) + 1 + k) = (v & 0xFF).toByte
        k += 1
      }
      y += 1
    }
    val idat = zlibStored(filtered)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte), 0, 8)
    def be32(v: Long): Unit = {
      out.write(((v >> 24) & 0xFF).toInt); out.write(((v >> 16) & 0xFF).toInt)
      out.write(((v >> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    def chunk(typ: String, data: Array[Byte]): Unit = {
      be32(data.length.toLong)
      typ.foreach(c => out.write(c.toInt))
      out.write(data, 0, data.length)
      be32(0L) // CRC zeros (not verified by a stats pass)
    }
    val ihdr = new java.io.ByteArrayOutputStream()
    Seq((w >> 24) & 0xFF, (w >> 16) & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      (h >> 24) & 0xFF, (h >> 16) & 0xFF, (h >> 8) & 0xFF, h & 0xFF,
      8, colorType, 0, 0, 0).foreach(ihdr.write)
    chunk("IHDR", ihdr.toByteArray)
    plte.foreach(p => chunk("PLTE", p))
    chunk("IDAT", idat)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** RFC 1950 zlib stream with ONE RFC 1951 stored (BTYPE=00) block —
    * size-deterministic (data.length + 11 bytes), so the oracle can
    * predict n_bytes arithmetically. Adler-32 is hand-rolled here
    * (mod-65521 running sums) and VERIFIED by the kernel's Inflater —
    * an independent cross-check of the stream framing. Stored blocks
    * cap at 65535 bytes; fixture scanline buffers stay well under.
    */
  private def zlibStored(data: Array[Byte]): Array[Byte] = {
    require(data.length <= 0xFFFF, "single stored block only")
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x78); out.write(0x01) // CMF/FLG: deflate, 32K window
    out.write(0x01) // BFINAL=1, BTYPE=00 (stored)
    out.write(data.length & 0xFF); out.write((data.length >> 8) & 0xFF)
    out.write(~data.length & 0xFF); out.write((~data.length >> 8) & 0xFF)
    out.write(data, 0, data.length)
    var s1 = 1L; var s2 = 0L
    data.foreach { b => s1 = (s1 + (b & 0xFF)) % 65521L; s2 = (s2 + s1) % 65521L }
    val adler = (s2 << 16) | s1
    Seq(24, 16, 8, 0).foreach(sh => out.write(((adler >> sh) & 0xFF).toInt))
    out.toByteArray
  }
}
