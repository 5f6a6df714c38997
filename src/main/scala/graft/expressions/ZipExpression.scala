package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP member enumeration (the PKWARE APPNOTE layout — the other
  * archive besides tar that data actually ships in): the authoritative
  * directory is the CENTRAL DIRECTORY at the END of the file, so the
  * walk is: find the End-Of-Central-Directory record (signature
  * 50 4B 05 06, scanned backward past an up-to-64 KiB trailing
  * comment), then read each central entry (50 4B 01 02 — method,
  * sizes, name, local-header offset), then resolve each member's DATA
  * offset through its local header (50 4B 03 04 — the local name/extra
  * lengths may differ from the central ones, so the local header must
  * be read, not assumed). Directories (trailing '/') are skipped.
  *
  * Returns (name, method, offset, csize, usize) per regular member:
  * `substring(content, offset + 1, csize)` slices the member's
  * compressed bytes — STORED members (method 0) are the payload
  * as-is, DEFLATED members (method 8) feed [[InflateRawKernel]].
  * CRCs are carried in the archive but not verified here (an
  * enumeration gate reads the layout; [[GzipKernel]] is the
  * integrity-checking decode path). Corrupt/truncated structures →
  * NULL; entry count capped at 2^20.
  */
object ZipKernel {

  /** Result type of [[parse]]. */
  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("csize", LongType, nullable = false),
    StructField("usize", LongType, nullable = false))),
    containsNull = false)

  private val MaxMembers = 1 << 20

  private def le16(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)

  private def le32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xFFL) << 24) | ((b(i + 2) & 0xFFL) << 16) |
      ((b(i + 1) & 0xFFL) << 8) | (b(i) & 0xFFL)

  def parse(b: Array[Byte]): ArrayData = {
    if (b == null || b.length < 22) return null
    val n = b.length
    // EOCD scan: record is 22 bytes + a comment of up to 65535
    var e = n - 22
    val stop = math.max(0, n - 22 - 65535)
    while (e >= stop && !(b(e) == 0x50 && b(e + 1) == 0x4B &&
      b(e + 2) == 0x05 && b(e + 3) == 0x06)) e -= 1
    if (e < stop) return null
    val count = le16(b, e + 10)
    val cdSize = le32(b, e + 12)
    val cdOff = le32(b, e + 16)
    if (count > MaxMembers || cdOff < 0L || cdSize < 0L ||
      cdOff + cdSize > e) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = cdOff.toInt
    var k = 0
    while (k < count) {
      if (i + 46 > e) return null
      if (!(b(i) == 0x50 && b(i + 1) == 0x4B && b(i + 2) == 0x01 &&
        b(i + 3) == 0x02)) return null
      val method = le16(b, i + 10)
      val csize = le32(b, i + 20)
      val usize = le32(b, i + 24)
      val nl = le16(b, i + 28)
      val xl = le16(b, i + 30)
      val cl = le16(b, i + 32)
      val lo = le32(b, i + 42)
      if (i + 46 + nl > e) return null
      val name = new String(b, i + 46, nl,
        java.nio.charset.StandardCharsets.UTF_8)
      if (!name.endsWith("/")) { // directories skipped
        // resolve the DATA offset through the LOCAL header
        if (lo < 0L || lo + 30 > n) return null
        val l = lo.toInt
        if (!(b(l) == 0x50 && b(l + 1) == 0x4B && b(l + 2) == 0x03 &&
          b(l + 3) == 0x04)) return null
        val lnl = le16(b, l + 26)
        val lxl = le16(b, l + 28)
        val dataOff = lo + 30L + lnl + lxl
        if (dataOff + csize > n) return null
        out += InternalRow(UTF8String.fromString(name), method.toLong,
          dataOff, csize, usize)
      }
      i += 46 + nl + xl + cl
      k += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** RAW DEFLATE decode (RFC 1951, no wrapper) of an already-sliced
  * compressed payload to an EXPECTED size — the decode half of a ZIP
  * deflated member (`inflate_raw(substring(content, offset + 1,
  * csize), usize)`), and the generic core under gzip/zlib. The
  * expected size is part of the contract: a stream inflating short,
  * long, or leaving input unconsumed → NULL (loud), and the 2^26-byte
  * cap guards expansion bombs before allocation.
  */
object InflateRawKernel {

  private val MaxOut = 1 << 26

  def decode(b: Array[Byte], usize: Long): Array[Byte] = {
    if (b == null || usize < 0L || usize > MaxOut) return null
    val out = new Array[Byte](usize.toInt)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b)
      var got = 0
      while (got < out.length && !inf.finished()) {
        val n =
          try inf.inflate(out, got, out.length - got)
          catch { case _: java.util.zip.DataFormatException => return null }
        if (n == 0 && !inf.finished() &&
          (inf.needsInput() || inf.needsDictionary())) return null
        got += n
      }
      if (got < out.length) return null // inflated short
      // the stream must END here: more output or unconsumed input is
      // a size lie
      val probe = new Array[Byte](1)
      if (!inf.finished() && inf.inflate(probe) > 0) return null
      // a deflate stream that TERMINATED before consuming the sliced
      // csize bytes is also a size lie (csize overstated, trailing
      // garbage) — reject it too, per the contract above
      if (inf.finished() && inf.getRemaining > 0) return null
      out
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }
}
