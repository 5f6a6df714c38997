package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TAR member enumeration — the WebDataset ingest kernel: large-scale
  * multimodal training data ships as tar archives of paired members
  * (`0001.jpg` + `0001.txt` + `0001.json` …), and the distributed read
  * is "enumerate members, slice payloads, decode each by suffix". This
  * kernel does the ENUMERATION as pure byte arithmetic over the POSIX
  * ustar layout (no codec, no archive library):
  *
  *  - headers are 512-byte blocks: name at offset 0 (100 bytes,
  *    NUL-terminated), size at 124 (12 bytes of ASCII OCTAL,
  *    NUL/space-terminated; the GNU base-256 extension — high bit set
  *    on byte 0 — is read as big-endian binary), typeflag at 156
  *    ('0' or NUL = regular file, '5' = directory, 'L'/'x'/'g' =
  *    name-extension blocks), magic "ustar" at 257 (both the POSIX
  *    "ustar\0" and the old-GNU "ustar " spellings accepted);
  *  - member data follows its header, padded up to the next 512
  *    boundary; two consecutive zero blocks end the archive (a clean
  *    EOF without them is tolerated — real-world tars are sloppy).
  *
  * Returns one array element per REGULAR member: (name, offset, size)
  * with `offset` pointing at the member's first DATA byte — so
  * `substring(content, offset + 1, size)` (Spark substr is 1-based)
  * slices the payload with a built-in, and the slice feeds any decode
  * kernel ([[PixelKernel]], [[Mp3HeaderKernel]], a UTF-8 cast …)
  * without the bytes ever leaving the executor.
  *
  * Corrupt archives (non-octal size, header past EOF, member data
  * truncated) → NULL, loud not wrong; a 2^20-member cap guards against
  * adversarial header loops.
  */
object TarKernel {

  /** Result type of [[parse]]. */
  val Schema: ArrayType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false))),
    containsNull = false)

  private val MaxMembers = 1 << 20

  /** @return ArrayData of InternalRow(name, offset, size) or null. */
  def parse(b: Array[Byte]): ArrayData = {
    if (b == null || b.length < 512) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i + 512 <= b.length) {
      if (isZeroBlock(b, i)) {
        // end-of-archive marker; a second zero block (and padding) may
        // follow — everything after is ignored per the format
        return new GenericArrayData(out.toArray)
      }
      // magic check: "ustar" at 257 (POSIX "ustar" + NUL / GNU "ustar ")
      val m = i + 257
      if (b(m) != 'u' || b(m + 1) != 's' || b(m + 2) != 't' ||
        b(m + 3) != 'a' || b(m + 4) != 'r') return null
      val size = readSize(b, i + 124)
      if (size < 0L) return null
      val dataStart = i + 512
      val padded = (size + 511L) / 512L * 512L
      if (dataStart + size > b.length) return null // truncated member
      val typeflag = b(i + 156)
      if (typeflag == '0' || typeflag == 0) {
        if (out.size >= MaxMembers) return null
        var e = i
        while (e < i + 100 && b(e) != 0) e += 1
        out += InternalRow(
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, i, e)),
          dataStart.toLong, size)
      }
      // directories, link/extension blocks: data skipped by size
      val next = dataStart.toLong + padded
      if (next > Int.MaxValue) return null
      i = next.toInt
    }
    new GenericArrayData(out.toArray) // clean EOF without zero blocks
  }

  private def isZeroBlock(b: Array[Byte], i: Int): Boolean = {
    var k = i
    while (k < i + 512) { if (b(k) != 0) return false; k += 1 }
    true
  }

  /** The 12-byte size field: ASCII octal (NUL/space terminated,
    * leading spaces tolerated) or GNU base-256 (byte 0 high bit set).
    * −1 on malformation.
    */
  private def readSize(b: Array[Byte], at: Int): Long = {
    if ((b(at) & 0x80) != 0) { // GNU base-256: big-endian binary
      var v = (b(at) & 0x7FL)
      var k = 1
      while (k < 12) {
        if (v > (Long.MaxValue >> 8)) return -1L
        v = (v << 8) | (b(at + k) & 0xFFL)
        k += 1
      }
      return v
    }
    var v = 0L
    var k = 0
    var seen = false
    while (k < 12) {
      val c = b(at + k) & 0xFF
      if (c == 0 || c == ' ') {
        if (seen) return v // terminator after digits
        // leading spaces before digits are tolerated
      } else if (c >= '0' && c <= '7') {
        if (v > (Long.MaxValue >> 3)) return -1L
        v = (v << 3) | (c - '0').toLong
        seen = true
      } else return -1L
      k += 1
    }
    if (seen) v else -1L
  }
}
