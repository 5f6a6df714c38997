package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Single-pass LCS kernel (object methods compile to static forwarders,
  * so generated code calls it directly — the [[NgramHash]] discipline).
  */
object LcsKernel {

  /** Length of the longest common subsequence of two token arrays —
    * the classic two-row DP, O(n·m) time / O(m) space, primitive int
    * rows, no allocation beyond the two rows. NULL elements match
    * nothing (tokens are never NULL in practice; the rule keeps the
    * kernel total). Token equality is exact UTF8String equality.
    */
  def lcs(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      val ai = if (a.isNullAt(i - 1)) null else a.getUTF8String(i - 1)
      var j = 1
      while (j <= m) {
        val bj = if (b.isNullAt(j - 1)) null else b.getUTF8String(j - 1)
        cur(j) =
          if (ai != null && bj != null && ai.equals(bj)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    prev(m).toLong
  }
}
