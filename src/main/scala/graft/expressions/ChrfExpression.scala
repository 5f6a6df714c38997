package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel behind [[graft.functions.chrfGramOverlaps]]: every chrF per-order component
  * for one (candidate, reference) pair of WHITESPACE-STRIPPED strings,
  * in one compiled pass — for k = 1..maxOrder, the gram counts
  * (numChars − k + 1, floored at 0) and the clipped multiset overlap
  * Σ_g min(count_c(g), count_r(g)).
  *
  * Semantics replicate the HOF composition it replaces
  * (`sort_array(charShingles(s, k))` pairs through
  * [[MultisetClipKernel.intersectSorted]] — the executable spec
  * [[graft.operators.GenerationEval.chrFRow]] still computes and the
  * suite pins against): grams are CODE-POINT substrings, duplicates
  * count, and orders where BOTH sides have zero grams emit no entry
  * (the sacrebleu effective-order rule).
  *
  * Why this shape: the HOF form ran ~3.4 ms/row at sf0.1 (12
  * interpreted transform lambdas + 12 interpreted sort_arrays per
  * row), and a first native cut that extracted per-gram UTF8String
  * OBJECTS and TimSorted them with compareTo was no faster — the cost
  * IS the per-gram object churn, not the interpretation. This kernel
  * allocates nothing per gram: code-point byte offsets are computed
  * once per side, each k-gram of byte-length ≤ 7 packs INJECTIVELY
  * into one long (7 payload bytes big-endian + the byte length in the
  * low byte — equal fingerprints ⟺ equal grams, and any consistent
  * total order works for a multiset intersect, so signed long order
  * is fine), the primitive long[] sorts with dual-pivot quicksort
  * (no comparator calls), and a two-pointer merge counts the clipped
  * overlap. Measured ~40 µs/row — ~80× under the object forms. Grams
  * of 8–23 bytes (CJK text at every order k ≤ 6, most mixed multibyte
  * text) take the WIDE tier — the same injective packing across 2 or
  * 3 longs per gram, an in-place record quicksort, the same primitive
  * merge (round 13; previously these reverted to the object path at
  * ~3.4 ms/row). Only grams past 23 bytes (4-byte code points at
  * k ≥ 6, or k ≥ 8 orders) fall back to the exact object path for
  * that (row, order) — correctness never rides on the fast paths'
  * applicability.
  */
object ChrfKernel {

  /** Result type of [[overlaps]]. */
  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("n_cand_grams", LongType, nullable = false),
    StructField("n_ref_grams", LongType, nullable = false),
    StructField("overlap", LongType, nullable = false))),
    containsNull = false)

  def overlaps(cand: UTF8String, ref: UTF8String, maxOrder: Int): GenericArrayData = {
    val cb = cand.getBytes
    val rb = ref.getBytes
    val coff = cpOffsets(cb)
    val roff = cpOffsets(rb)
    val nc = coff.length - 1
    val nr = roff.length - 1
    val out = new java.util.ArrayList[InternalRow](maxOrder)
    var caf: Array[Long] = null // fingerprints, reused across orders
    var raf: Array[Long] = null
    var k = 1
    while (k <= maxOrder) {
      val ncg = if (nc - k + 1 > 0) nc - k + 1 else 0
      val nrg = if (nr - k + 1 > 0) nr - k + 1 else 0
      if (ncg + nrg > 0) {
        var ov = 0L
        if (ncg > 0 && nrg > 0) {
          val mb = math.max(maxGramBytes(coff, k, ncg),
            maxGramBytes(roff, k, nrg))
          if (mb <= 7) {
            if (caf == null || caf.length < ncg) caf = new Array[Long](ncg)
            if (raf == null || raf.length < nrg) raf = new Array[Long](nrg)
            pack(cb, coff, k, ncg, caf)
            pack(rb, roff, k, nrg, raf)
            java.util.Arrays.sort(caf, 0, ncg)
            java.util.Arrays.sort(raf, 0, nrg)
            var i = 0
            var j = 0
            while (i < ncg && j < nrg) {
              val x = caf(i)
              val y = raf(j)
              if (x == y) { ov += 1; i += 1; j += 1 }
              else if (x < y) i += 1
              else j += 1
            }
          } else if (mb <= 23) {
            // multi-long fingerprint tier (round 13): grams of 8–23
            // bytes — CJK (3-byte chars) at every order k ≤ 6, and
            // most mixed multibyte text — pack into W = 2 or 3 longs
            // and stay on the primitive path instead of reverting to
            // per-gram object churn.
            ov = overlapWide(cb, coff, rb, roff, k, ncg, nrg,
              (mb + 8) / 8)
          } else {
            ov = overlapObjects(cand, ref, k, ncg, nrg)
          }
        }
        out.add(InternalRow(k.toLong, ncg.toLong, nrg.toLong, ov))
      }
      k += 1
    }
    new GenericArrayData(out.toArray(new Array[InternalRow](out.size())))
  }

  /** Byte offset of each code point start, plus the end sentinel. */
  private def cpOffsets(b: Array[Byte]): Array[Int] = {
    var n = 0
    var i = 0
    while (i < b.length) {
      if ((b(i) & 0xC0) != 0x80) n += 1
      i += 1
    }
    val off = new Array[Int](n + 1)
    var p = 0
    i = 0
    while (i < b.length) {
      if ((b(i) & 0xC0) != 0x80) { off(p) = i; p += 1 }
      i += 1
    }
    off(n) = b.length
    off
  }

  private def maxGramBytes(off: Array[Int], k: Int, n: Int): Int = {
    var m = 0
    var i = 0
    while (i < n) {
      val len = off(i + k) - off(i)
      if (len > m) m = len
      i += 1
    }
    m
  }

  /** Injective ≤7-byte gram fingerprint: payload big-endian in the top
    * 56 bits, byte length in the low 8 — equal longs ⟺ equal grams.
    */
  private def pack(b: Array[Byte], off: Array[Int], k: Int, n: Int,
                   dst: Array[Long]): Unit = {
    var i = 0
    while (i < n) {
      val s = off(i)
      val e = off(i + k)
      var v = 0L
      var p = s
      while (p < e) { v = (v << 8) | (b(p) & 0xFFL); p += 1 }
      dst(i) = (v << (8 * (8 - (e - s)))) | (e - s).toLong
      i += 1
    }
  }

  /** WIDE fingerprint tier: grams of 8..23 bytes packed INJECTIVELY
    * into W = 2 or 3 longs each — big-endian payload left-aligned
    * across the W·8-byte record, zeros after, byte LENGTH in the final
    * byte (len ≤ 8W−1 < 8W, so the length slot never overlaps payload;
    * equal records ⟺ equal grams, zero padding cannot collide because
    * the length disambiguates). Records sort with an in-place W-limb
    * quicksort (signed per-limb compare — any consistent total order
    * works for a multiset intersect) and merge with the same
    * comparator. No per-gram allocation: two flat long[] buffers.
    */
  private def overlapWide(cb: Array[Byte], coff: Array[Int],
                          rb: Array[Byte], roff: Array[Int], k: Int,
                          ncg: Int, nrg: Int, W: Int): Long = {
    val ca = new Array[Long](ncg * W)
    val ra = new Array[Long](nrg * W)
    packWide(cb, coff, k, ncg, W, ca)
    packWide(rb, roff, k, nrg, W, ra)
    sortRecords(ca, 0, ncg - 1, W)
    sortRecords(ra, 0, nrg - 1, W)
    var ov = 0L
    var i = 0
    var j = 0
    while (i < ncg && j < nrg) {
      val c = cmpRecords(ca, i, ra, j, W)
      if (c == 0) { ov += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    ov
  }

  private def packWide(b: Array[Byte], off: Array[Int], k: Int, n: Int,
                       W: Int, dst: Array[Long]): Unit = {
    var i = 0
    while (i < n) {
      val s = off(i)
      val len = off(i + k) - s
      var w = 0
      while (w < W) {
        var v = 0L
        var j = 0
        while (j < 8) {
          val p = w * 8 + j
          val byteVal =
            if (p < len) b(s + p) & 0xFFL
            else if (p == 8 * W - 1) len.toLong
            else 0L
          v = (v << 8) | byteVal
          j += 1
        }
        dst(i * W + w) = v
        w += 1
      }
      i += 1
    }
  }

  private def cmpRecords(a: Array[Long], i: Int, b: Array[Long], j: Int,
                         W: Int): Int = {
    var w = 0
    while (w < W) {
      val x = a(i * W + w)
      val y = b(j * W + w)
      if (x != y) return if (x < y) -1 else 1
      w += 1
    }
    0
  }

  /** In-place quicksort of W-long records [lo..hi] (record indices):
    * median-of-three pivot copied out, insertion sort below 12,
    * recursion on the smaller partition (stack depth O(log n)).
    */
  private def sortRecords(a: Array[Long], lo0: Int, hi0: Int, W: Int): Unit = {
    var lo = lo0
    var hi = hi0
    val piv = new Array[Long](W)
    val tmp = new Array[Long](W)
    def swap(i: Int, j: Int): Unit = {
      if (i != j) {
        System.arraycopy(a, i * W, tmp, 0, W)
        System.arraycopy(a, j * W, a, i * W, W)
        System.arraycopy(tmp, 0, a, j * W, W)
      }
    }
    def cmpPiv(i: Int): Int = {
      var w = 0
      while (w < W) {
        val x = a(i * W + w)
        val y = piv(w)
        if (x != y) return if (x < y) -1 else 1
        w += 1
      }
      0
    }
    while (lo < hi) {
      if (hi - lo < 12) {
        // insertion sort on the short run
        var i = lo + 1
        while (i <= hi) {
          System.arraycopy(a, i * W, tmp, 0, W)
          var j = i - 1
          var continue = true
          while (j >= lo && continue) {
            var c = 0
            var w = 0
            while (w < W && c == 0) {
              val x = a(j * W + w)
              val y = tmp(w)
              if (x != y) c = if (x < y) -1 else 1
              w += 1
            }
            if (c > 0) {
              System.arraycopy(a, j * W, a, (j + 1) * W, W)
              j -= 1
            } else continue = false
          }
          System.arraycopy(tmp, 0, a, (j + 1) * W, W)
          i += 1
        }
        return
      }
      // middle-element pivot, copied out so swaps can't move it
      val mid = lo + (hi - lo) / 2
      System.arraycopy(a, mid * W, piv, 0, W)
      var i = lo
      var j = hi
      while (i <= j) {
        while (cmpPiv(i) < 0) i += 1
        while (cmpPiv(j) > 0) j -= 1
        if (i <= j) { swap(i, j); i += 1; j -= 1 }
      }
      // recurse on the smaller side, loop on the larger
      if (j - lo < hi - i) {
        if (lo < j) sortRecords(a, lo, j, W)
        lo = i
      } else {
        if (i < hi) sortRecords(a, i, hi, W)
        hi = j
      }
    }
  }

  /** Exact object-path fallback for grams past the 23-byte wide-
    * fingerprint domain (4-byte code points at k ≥ 6, or k ≥ 8
    * orders): per-gram UTF8String
    * extraction + sort + two-pointer — the executable-spec semantics
    * at the original cost, taken only where the fast paths can't apply.
    */
  private def overlapObjects(cand: UTF8String, ref: UTF8String, k: Int,
                             ncg: Int, nrg: Int): Long = {
    val a = gramsSorted(cand, k, ncg)
    val b = gramsSorted(ref, k, nrg)
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < ncg && j < nrg) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  private def gramsSorted(s: UTF8String, k: Int, n: Int): Array[UTF8String] = {
    val arr = new Array[UTF8String](n)
    var i = 0
    while (i < n) { arr(i) = s.substring(i, i + k); i += 1 }
    java.util.Arrays.sort(arr.asInstanceOf[Array[Object]])
    arr
  }
}
