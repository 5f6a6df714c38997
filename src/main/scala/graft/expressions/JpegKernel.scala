package graft.expressions

import scala.util.control.NonFatal

/** Codec-free BASELINE-SEQUENTIAL JPEG pixel decode (ITU-T T.81 /
  * ISO 10918-1) — the fourth native pixel format after PNG/BMP/GIF,
  * and the one the web corpus ships most. Everything here is the
  * public spec: marker segments (§B), canonical Huffman tables
  * (Annex C, decode procedure F.2.2.3), the entropy-coded DC/AC
  * run-length layer with 0xFF00 byte stuffing and FFD0–D7 restart
  * markers (F.2.2.5), dequantization, and the 8×8 inverse DCT.
  *
  * THE IDCT IS PINNED, NOT BORROWED: T.81 Annex A specifies the ideal
  * transform but deliberately does not pin an implementation (it gives
  * accuracy bounds — this is why two conforming decoders disagree by
  * ±1–2 per sample, and why JPEG pixel statistics were unit-tested
  * rather than oracle-gated in earlier rounds). This kernel fixes ONE
  * integer implementation as its contract:
  *
  *   out(x,y) = clamp(( Σ_{u,v} K(u)(x)·K(v)(y)·F(u,v) + 2^23 ) >> 24) + 128
  *   K(u)(x)  = round( C(u)/2 · cos((2x+1)uπ/16) · 4096 ),  C(0)=1/√2
  *
  * — a direct fixed-point evaluation of the Annex A sum whose every
  * intermediate is integer, so the DuckDB oracle can REPLAY it (for a
  * DC-only block it collapses to
  * clamp((dc·q·1448² + 2^23) >> 24) + 128, the formula the q372
  * fixtures drive). Chroma upsampling is nearest-sample (plane index
  * ⌊x·h/maxH⌋) and YCbCr→RGB is the integer JFIF matrix
  * (R = Y + (359·(Cr−128)+128 >> 8), …) — both documented constants,
  * both replayable. Decoding a real camera/ImageIO JPEG therefore
  * agrees with other decoders to within the spec's IDCT tolerance
  * (unit-locked at ±2/sample), while FIXTURE JPEGs gate exactly.
  *
  * Supported: SOF0/SOF1 (baseline + extended sequential, Huffman,
  * 8-bit), SOF2 (PROGRESSIVE, Huffman, 8-bit — round 16: the web's
  * second-most-common JPEG shape), 1 or 3 components, sampling factors
  * 1–2, DRI/RST intervals, multi-segment DQT/DHT, 16-bit DQT entries,
  * APPn/COM skip. Anything else — arithmetic coding, 12-bit,
  * 4-component CMYK, lossless/hierarchical — returns NULL, loud not
  * wrong; the ImageIO fallback upstream
  * ([[graft.operators.Multimodal.decodeImage]]) still covers those for
  * the unit-tested feature pass. Corrupt/truncated streams, a scan
  * hitting an unexpected marker, or planes past the 64 MiB cap → NULL,
  * never a throw (fuzz-swept).
  *
  * PROGRESSIVE decode (T.81 §G): scans accumulate into per-component
  * coefficient buffers — DC first/refinement scans (interleaved or
  * single-component), AC spectral-selection bands (single-component by
  * G.1.1.1.1), successive-approximation first passes (point-transformed
  * values << Al) and refinement passes (correction bits + EOBRUN runs,
  * the G.1.2.3 algorithm) — and ONE dequantize + pinned-IDCT pass at
  * EOI renders the planes. The IDCT contract is IDENTICAL to the
  * sequential path (same formula, same fixed point), so a progressive
  * and a baseline encoding of the same coefficients decode to the same
  * pixels, and the q372 oracle closed forms carry over unchanged.
  */
object JpegKernel {

  private val MaxPlaneBytes = 1L << 26

  /** Zigzag index → natural (row-major) index, T.81 Figure A.6. */
  private val ZZ: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Fixed-point IDCT basis: K(u)(x) = round(C(u)/2·cos((2x+1)uπ/16)·4096). */
  private val K: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    math.round(c / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0) * 4096.0)
  }

  private final class Huff(bits: Array[Int], vals: Array[Byte]) {
    // Annex C canonical code assignment; F.2.2.3 decode tables
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        maxCode(l) = if (bits(l) == 0) -1 else code + bits(l) - 1
        code = (code + bits(l)) << 1
        k += bits(l)
        l += 1
      }
    }
    def value(l: Int, code: Int): Int =
      vals(valPtr(l) + code - minCode(l)) & 0xFF
  }

  private final class Reader(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var n = 0
    var bad = false
    def align(): Unit = n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= b.length) { bad = true; return 0 }
        val v = b(pos) & 0xFF; pos += 1
        if (v == 0xFF) {
          if (pos >= b.length) { bad = true; return 0 }
          val m = b(pos) & 0xFF
          if (m == 0x00) pos += 1 // stuffed FF data byte
          else { bad = true; pos -= 1; return 0 } // marker mid-entropy
        }
        cur = v; n = 8
      }
      n -= 1
      (cur >> n) & 1
    }
    def bits(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def huff(t: Huff): Int = {
      var code = bit(); var l = 1
      while (l <= 16 && (t.maxCode(l) < 0 || code > t.maxCode(l))) {
        code = (code << 1) | bit(); l += 1
      }
      if (l > 16 || bad) { bad = true; return -1 }
      t.value(l, code)
    }
  }

  /** F.2.2.1 EXTEND: map an s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def clampByte(v: Long): Int =
    if (v < -128L) 0 else if (v > 127L) 255 else (v + 128L).toInt

  private final class Comp(val id: Int, val h: Int, val v: Int, val tq: Int) {
    var dcTab = -1
    var acTab = -1
    var pred = 0
    var planeW = 0
    var planeH = 0
    var plane: Array[Byte] = null
    // progressive state: the full interleaved block grid (bw × bh) of
    // 64-coefficient buffers, and the component's OWN block dims
    // (cw × ch — the walk order of non-interleaved scans, A.2.2)
    var bw = 0
    var bh = 0
    var cw = 0
    var ch = 0
    var coefs: Array[Int] = null
  }

  /** The pinned IDCT as a separable two-pass sum (round 16):
    * t(v,x) = Σ_u K(u)(x)·F(u,v), then acc(x,y) = Σ_v K(v)(y)·t(v,x).
    * Every intermediate is the exact integer the direct double sum
    * would produce (integer ·/+ are associative — this is a
    * re-bracketing of the SAME sum, not an approximation), so the
    * contract formula and every gated hash are bit-identical while the
    * dense-block cost drops from 64 to 16 multiplies per sample.
    * Zero coefficient rows are skipped in both passes, which keeps the
    * DC-only fast path (fixtures, flat regions) at ~72 multiplies per
    * block. No overflow: |K| ≤ 2009, |F| ≤ 2047·65535 ⇒
    * |t| < 2.2·10^12, |acc| < 3.5·10^16 — Long-safe.
    */
  private def idctBlock(coef: Array[Long], plane: Array[Byte],
                        planeW: Int, px0: Int, py0: Int): Unit = {
    val t = new Array[Long](64)
    var nzRows = 0
    var v = 0
    while (v < 8) {
      val row = v * 8
      var any = false
      var u = 0
      while (u < 8) { if (coef(row + u) != 0L) any = true; u += 1 }
      if (any) {
        nzRows |= 1 << v
        var x = 0
        while (x < 8) {
          var acc = 0L
          var u2 = 0
          while (u2 < 8) {
            val f = coef(row + u2)
            if (f != 0L) acc += K(u2)(x) * f
            u2 += 1
          }
          t(row + x) = acc
          x += 1
        }
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var v2 = 0
        while (v2 < 8) {
          if ((nzRows & (1 << v2)) != 0) acc += K(v2)(y) * t(v2 * 8 + x)
          v2 += 1
        }
        plane((py0 + y) * planeW + px0 + x) =
          clampByte((acc + (1L << 23)) >> 24).toByte
        x += 1
      }
      y += 1
    }
  }

  def decode(b: Array[Byte]): PixelKernel.LumView =
    try decodeImpl(b)
    catch { case NonFatal(_) => null }

  // scalastyle:off method.length cyclomatic.complexity
  private def decodeImpl(b: Array[Byte]): PixelKernel.LumView = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    def u8(i: Int): Int = b(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)

    val qt = Array.ofDim[Int](4, 64) // natural order
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var comps: Array[Comp] = null
    var width = 0
    var height = 0
    var restart = 0
    var progressive = false
    var sawScan = false
    var i = 2
    while (true) {
      // markers may be preceded by fill FFs
      if (i + 1 >= b.length) return null
      if (u8(i) != 0xFF) return null
      while (i + 1 < b.length && u8(i + 1) == 0xFF) i += 1
      val m = u8(i + 1)
      i += 2
      m match {
        case 0xD9 => // EOI: for progressive, scans are done — render
          if (progressive && sawScan)
            return finishProgressive(width, height, comps, qt)
          return null // EOI before any (sequential) scan
        case 0xDB => // DQT: one or more tables
          if (i + 2 > b.length) return null
          val end = i + u16(i)
          if (end > b.length) return null
          var p = i + 2
          while (p < end) {
            val pq = u8(p) >> 4; val tq = u8(p) & 0x0F
            if (pq > 1 || tq > 3) return null
            p += 1
            val step = if (pq == 1) 2 else 1
            if (p + 64 * step > end) return null
            var k = 0
            while (k < 64) {
              qt(tq)(ZZ(k)) = if (pq == 1) u16(p + 2 * k) else u8(p + k)
              k += 1
            }
            p += 64 * step
          }
          i = end
        case 0xC4 => // DHT: one or more tables
          if (i + 2 > b.length) return null
          val end = i + u16(i)
          if (end > b.length) return null
          var p = i + 2
          while (p < end) {
            val tc = u8(p) >> 4; val th = u8(p) & 0x0F
            if (tc > 1 || th > 3 || p + 17 > end) return null
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = u8(p + l); total += bits(l); l += 1 }
            if (p + 17 + total > end || total > 256) return null
            val vals = java.util.Arrays.copyOfRange(b, p + 17, p + 17 + total)
            val t = new Huff(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            p += 17 + total
          }
          i = end
        case 0xC0 | 0xC1 | 0xC2 => // SOF0/SOF1 sequential, SOF2 progressive
          if (comps != null) return null // second frame header
          progressive = m == 0xC2
          if (i + 2 > b.length) return null
          val end = i + u16(i)
          if (end > b.length || i + 8 > b.length) return null
          if (u8(i + 2) != 8) return null // 8-bit precision only
          height = u16(i + 3); width = u16(i + 5)
          val nf = u8(i + 7)
          if (width <= 0 || height <= 0 || (nf != 1 && nf != 3)) return null
          if (i + 8 + 3 * nf > end) return null
          comps = Array.tabulate(nf) { c =>
            val o = i + 8 + 3 * c
            val hv = u8(o + 1)
            val comp = new Comp(u8(o), hv >> 4, hv & 0x0F, u8(o + 2))
            if (comp.h < 1 || comp.h > 2 || comp.v < 1 || comp.v > 2 ||
              comp.tq > 3) return null
            comp
          }
          if (progressive) {
            // allocate the coefficient grids once, with the same
            // decode-bomb cap as the sequential planes (coefficient
            // storage is 4 bytes per sample, so the same sample cap
            // bounds it at 4× — still bounded)
            val maxH = comps.map(_.h).max
            val maxV = comps.map(_.v).max
            val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
            val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
            var planeBytes = 0L
            comps.foreach { c =>
              c.bw = mcusX * c.h
              c.bh = mcusY * c.v
              c.cw = ((width * c.h + maxH - 1) / maxH + 7) / 8
              c.ch = ((height * c.v + maxV - 1) / maxV + 7) / 8
              planeBytes += c.bw.toLong * c.bh * 64L
              if (planeBytes > MaxPlaneBytes) return null
              c.coefs = new Array[Int](c.bw * c.bh * 64)
            }
          }
          i = end
        case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
             0xCD | 0xCE | 0xCF =>
          return null // arithmetic / lossless / hierarchical: unsupported
        case 0xDD => // DRI
          if (i + 4 > b.length || u16(i) != 4) return null
          restart = u16(i + 2)
          i += 4
        case 0xDA => // SOS
          if (comps == null) return null
          if (i + 2 > b.length) return null
          val end = i + u16(i)
          if (end > b.length) return null
          val ns = u8(i + 2)
          if (ns < 1 || ns > comps.length ||
            i + 3 + 2 * ns + 3 > end) return null
          val scanComps = new Array[Comp](ns)
          var c = 0
          while (c < ns) {
            val cid = u8(i + 3 + 2 * c)
            val tt = u8(i + 4 + 2 * c)
            val comp = comps.find(_.id == cid).getOrElse(return null)
            scanComps(c) = comp
            comp.dcTab = tt >> 4
            comp.acTab = tt & 0x0F
            if (comp.dcTab > 3 || comp.acTab > 3) return null
            c += 1
          }
          if (!progressive) {
            // sequential: exactly one scan covering every component,
            // both table kinds required — unchanged legacy path
            if (ns != comps.length) return null
            if (comps.exists(cc => dcTabs(cc.dcTab) == null ||
              acTabs(cc.acTab) == null)) return null
            return decodeScan(b, end, width, height, comps, qt,
              dcTabs, acTabs, restart)
          }
          // progressive: spectral selection + successive approximation
          val ss = u8(i + 3 + 2 * ns)
          val se = u8(i + 4 + 2 * ns)
          val ahAl = u8(i + 5 + 2 * ns)
          val ah = ahAl >> 4
          val al = ahAl & 0x0F
          // G.1.1.1.1: DC scans are Ss=Se=0; AC scans are a band in
          // 1..63 and single-component; point transforms ≤ 13
          if (ss == 0 && se != 0) return null
          if (ss > 0 && (ns != 1 || se < ss || se > 63)) return null
          if (ah > 13 || al > 13 || (ah != 0 && ah != al + 1)) return null
          if (ss == 0 && ah == 0 &&
            scanComps.exists(cc => dcTabs(cc.dcTab) == null)) return null
          if (ss > 0 && acTabs(scanComps(0).acTab) == null) return null
          val next = decodeProgressiveScan(b, end, scanComps, comps,
            width, height, ss, se, ah, al, restart, dcTabs, acTabs)
          if (next < 0) return null
          sawScan = true
          i = next
        case x if x >= 0xD0 && x <= 0xD7 => return null // stray RST
        case 0x01 => () // TEM: parameterless
        case _ => // APPn / COM / DNL / anything length-prefixed: skip
          if (i + 2 > b.length) return null
          val end = i + u16(i)
          if (end > b.length) return null
          i = end
      }
    }
    null
  }

  private def decodeScan(b: Array[Byte], scanStart: Int, width: Int,
                         height: Int, comps: Array[Comp],
                         qt: Array[Array[Int]], dcTabs: Array[Huff],
                         acTabs: Array[Huff], restart: Int): PixelKernel.LumView = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    var planeBytes = 0L
    comps.foreach { c =>
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      planeBytes += c.planeW.toLong * c.planeH
      if (planeBytes > MaxPlaneBytes) return null // decode-bomb guard
      c.plane = new Array[Byte](c.planeW * c.planeH)
      c.pred = 0
    }
    val r = new Reader(b, scanStart)
    val coef = new Array[Long](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    var rstCount = 0
    while (mcu < nMcus) {
      if (restart > 0 && mcu > 0 && mcu % restart == 0) {
        // F.2.2.5: byte-align, expect RSTm in sequence, reset preds
        r.align()
        if (r.pos + 1 >= b.length || (b(r.pos) & 0xFF) != 0xFF ||
          (b(r.pos + 1) & 0xFF) != 0xD0 + (rstCount & 7)) return null
        r.pos += 2
        rstCount += 1
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qt(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // ---- one 8×8 block: DC, AC run-length, dequant ----
            java.util.Arrays.fill(coef, 0L)
            val s = r.huff(dcTabs(c.dcTab))
            // 8-bit baseline caps the DC size category at 11 (T.81
            // Table F.1); accepting the Huffman-expressible 12–15 would
            // let an adversarial stream of max-magnitude diffs wrap the
            // Int predictor into deterministic-but-meaningless pixels.
            if (s < 0 || s > 11) return null
            val diff = extend(r.bits(s), s)
            c.pred += diff
            // a conforming 8-bit stream keeps the accumulated DC value
            // inside the 11-bit coefficient range (diff categories ≤ 11
            // ⇒ |DC| < 2^11); outside it the stream is non-conforming —
            // NULL, loud not wrong, never a wrapped predictor
            if (c.pred < -2048 || c.pred > 2047) return null
            coef(0) = c.pred.toLong * q(0)
            var k = 1
            var done = false
            while (k < 64 && !done) {
              val rs = r.huff(acTabs(c.acTab))
              if (rs < 0) return null
              val run = rs >> 4
              val size = rs & 0x0F
              if (size == 0) {
                if (run == 15) k += 16 // ZRL
                else done = true // EOB
              } else {
                k += run
                if (k > 63) return null
                val nat = ZZ(k)
                coef(nat) = extend(r.bits(size), size).toLong * q(nat)
                k += 1
              }
            }
            if (r.bad) return null
            // ---- the pinned fixed-point IDCT (separable two-pass;
            // bit-identical re-bracketing of the contract sum) ----
            idctBlock(coef, c.plane, c.planeW,
              (mx * c.h + bx) * 8, (my * c.v + by) * 8)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      if (r.bad) return null
      mcu += 1
    }
    // the stream must close with EOI (pad bits then the marker; stray
    // RSTs after the last restart lane are malformed)
    r.align()
    var p = r.pos
    while (p + 1 < b.length && (b(p) & 0xFF) == 0xFF &&
      (b(p + 1) & 0xFF) == 0xFF) p += 1
    if (p + 1 >= b.length || (b(p) & 0xFF) != 0xFF ||
      (b(p + 1) & 0xFF) != 0xD9) return null

    assemble(width, height, comps)
  }

  /** One progressive scan into the coefficient grids; returns the byte
    * position after the entropy segment (the next marker's 0xFF), or
    * -1 on any malformation. T.81 §G.1.2: four scan kinds — DC first
    * (Huffman diff, values << Al), DC refinement (one raw bit per
    * block ORed at Al), AC first (run-length over the Ss..Se band with
    * EOBRUN), AC refinement (correction bits + new ±1<<Al
    * coefficients, G.1.2.3). DC scans with ns > 1 walk the interleaved
    * MCU grid; single-component scans walk the component's own cw × ch
    * block raster (A.2.2). Restart lanes reset predictors AND EOBRUN.
    */
  private def decodeProgressiveScan(b: Array[Byte], start: Int,
                                    scanComps: Array[Comp],
                                    all: Array[Comp],
                                    width: Int, height: Int,
                                    ss: Int, se: Int, ah: Int, al: Int,
                                    restart: Int, dcTabs: Array[Huff],
                                    acTabs: Array[Huff]): Int = {
    val r = new Reader(b, start)
    var eobrun = 0
    scanComps.foreach(_.pred = 0)
    val interleaved = scanComps.length > 1
    val maxH = all.map(_.h).max
    val maxV = all.map(_.v).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    val nUnits =
      if (interleaved) mcusX * mcusY
      else scanComps(0).cw * scanComps(0).ch

    def dcBlock(c: Comp, off: Int): Boolean = {
      if (ah == 0) {
        val s = r.huff(dcTabs(c.dcTab))
        // s + al <= 11: the RECONSTRUCTED coefficient (pred << al) must
        // stay within the 8-bit DC range ±2047, or idctBlock's
        // |F| <= 2047*65535 overflow bound no longer holds — the
        // progressive twin of the sequential DC-pred clamp.
        if (s < 0 || s > 11 || s + al > 11) return false
        val diff = extend(r.bits(s), s)
        c.pred += diff
        if (c.pred < -2048 || c.pred > 2047) return false
        val v = c.pred << al
        if (v < -2048 || v > 2047) return false
        c.coefs(off) = v
      } else if (r.bit() == 1) {
        val v = c.coefs(off) | (1 << al)
        if (v < -2048 || v > 2047) return false
        c.coefs(off) = v
      }
      !r.bad
    }

    def acFirstBlock(c: Comp, off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      val tab = acTabs(c.acTab)
      var k = ss
      while (k <= se) {
        val rs = r.huff(tab)
        if (rs < 0) return false
        val run = rs >> 4
        val s = rs & 0x0F
        if (s == 0) {
          if (run == 15) k += 16 // ZRL
          else {
            eobrun = (1 << run) - 1
            if (run > 0) eobrun += r.bits(run)
            k = 64 // EOB for this block
          }
        } else {
          // 8-bit AC categories cap at 10, and s + al <= 10 keeps the
          // reconstructed magnitude within the ±1023 AC range the IDCT
          // overflow bound assumes (cf. dcBlock's s + al <= 11).
          if (s > 10 || s + al > 10) return false
          k += run
          if (k > se) return false
          val v = extend(r.bits(s), s) << al
          if (v < -1023 || v > 1023) return false
          c.coefs(off + ZZ(k)) = v
          k += 1
        }
      }
      !r.bad
    }

    def acRefineBlock(c: Comp, off: Int): Boolean = {
      // A refinement scan introduces new ±(1 << al) coefficients; al > 9
      // would mint magnitudes past the ±1023 AC range (see acFirstBlock).
      if (al > 9) return false
      val tab = acTabs(c.acTab)
      val p1 = 1 << al
      var k = ss
      if (eobrun == 0) {
        var atEob = false
        while (k <= se && !atEob) {
          val rs = r.huff(tab)
          if (rs < 0) return false
          var run = rs >> 4
          val s = rs & 0x0F
          var newval = 0
          if (s == 0) {
            if (run != 15) {
              // EOBn: the run INCLUDES this block (its remaining
              // nonzeros still take correction bits below)
              eobrun = 1 << run
              if (run > 0) eobrun += r.bits(run)
              atEob = true
            } // run == 15: ZRL — skip 16 zero-history positions
          } else {
            if (s != 1) return false // refinement codes only ±1
            newval = if (r.bit() == 1) p1 else -p1
          }
          if (!atEob) {
            var placed = false
            while (k <= se && !placed) {
              val idx = off + ZZ(k)
              val cur = c.coefs(idx)
              if (cur != 0) {
                if (r.bit() == 1 && (cur & p1) == 0) {
                  val nv = cur + (if (cur >= 0) p1 else -p1)
                  if (nv < -1023 || nv > 1023) return false
                  c.coefs(idx) = nv
                }
              } else if (run == 0) {
                if (newval != 0) c.coefs(idx) = newval
                placed = true
              } else run -= 1
              k += 1
            }
            if (!placed && newval != 0) return false
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val idx = off + ZZ(k)
          val cur = c.coefs(idx)
          if (cur != 0) {
            if (r.bit() == 1 && (cur & p1) == 0) {
              val nv = cur + (if (cur >= 0) p1 else -p1)
              if (nv < -1023 || nv > 1023) return false
              c.coefs(idx) = nv
            }
          }
          k += 1
        }
        eobrun -= 1
      }
      !r.bad
    }

    def oneBlock(c: Comp, bx: Int, by: Int): Boolean = {
      val off = (by * c.bw + bx) * 64
      if (ss == 0) dcBlock(c, off)
      else if (ah == 0) acFirstBlock(c, off)
      else acRefineBlock(c, off)
    }

    var unit = 0
    var rstCount = 0
    while (unit < nUnits) {
      if (restart > 0 && unit > 0 && unit % restart == 0) {
        r.align()
        if (r.pos + 1 >= b.length || (b(r.pos) & 0xFF) != 0xFF ||
          (b(r.pos + 1) & 0xFF) != 0xD0 + (rstCount & 7)) return -1
        r.pos += 2
        rstCount += 1
        scanComps.foreach(_.pred = 0)
        eobrun = 0
      }
      if (interleaved) {
        val mx = unit % mcusX
        val my = unit / mcusX
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              if (!oneBlock(c, mx * c.h + bx, my * c.v + by)) return -1
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
      } else {
        val c = scanComps(0)
        if (!oneBlock(c, unit % c.cw, unit / c.cw)) return -1
      }
      if (r.bad) return -1
      unit += 1
    }
    r.align()
    r.pos
  }

  /** Dequantize + pinned IDCT of every accumulated block, then the
    * shared plane assembly. Quantization applies the tables as defined
    * at EOI (encoders emit DQT before the first scan; per-scan
    * redefinition is not a shape real progressive encoders produce).
    */
  private def finishProgressive(width: Int, height: Int,
                                comps: Array[Comp],
                                qt: Array[Array[Int]]): PixelKernel.LumView = {
    val coef = new Array[Long](64)
    comps.foreach { c =>
      c.planeW = c.bw * 8
      c.planeH = c.bh * 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
      val q = qt(c.tq)
      var by = 0
      while (by < c.bh) {
        var bx = 0
        while (bx < c.bw) {
          val off = (by * c.bw + bx) * 64
          var k = 0
          while (k < 64) {
            coef(k) = c.coefs(off + k).toLong * q(k)
            k += 1
          }
          idctBlock(coef, c.plane, c.planeW, bx * 8, by * 8)
          bx += 1
        }
        by += 1
      }
    }
    assemble(width, height, comps)
  }

  /** Shared gray / YCbCr plane-to-LumView assembly (sequential and
    * progressive render identically once planes exist).
    */
  private def assemble(width: Int, height: Int,
                       comps: Array[Comp]): PixelKernel.LumView = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    if (comps.length == 1) {
      val c = comps(0)
      PixelKernel.LumView("jpeg", width, height, 1,
        (x, y) => 1000L * (c.plane(y * c.planeW + x) & 0xFF))
    } else {
      val Array(cy, cb, cr) = comps
      PixelKernel.LumView("jpeg", width, height, 3, (x, y) => {
        def sample(c: Comp): Int =
          c.plane((y * c.v / maxV) * c.planeW + (x * c.h / maxH)) & 0xFF
        val yy = sample(cy)
        val pb = sample(cb) - 128
        val pr = sample(cr) - 128
        // integer JFIF YCbCr→RGB (documented fixed-point constants)
        def cl(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
        val rr = cl(yy + ((359 * pr + 128) >> 8))
        val gg = cl(yy - ((88 * pb + 183 * pr + 128) >> 8))
        val bb = cl(yy + ((454 * pb + 128) >> 8))
        299L * rr + 587L * gg + 114L * bb
      })
    }
  }
  // scalastyle:on method.length cyclomatic.complexity
}
