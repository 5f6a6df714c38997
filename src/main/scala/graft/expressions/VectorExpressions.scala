package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native dot product of two float-array columns.
  *
  * The generic `graft.functions.dotProduct` composes Catalyst higher-order
  * functions (zip_with + aggregate), which are NOT whole-stage-codegen'd —
  * every element evaluation walks the interpreted lambda tree. This
  * expression generates a tight primitive loop instead (doGenCode), which
  * is what the hot path of a 100 TB similarity scan needs.
  *
  * Semantics match the HOF version bit-for-bit so DuckDB-oracle parity is
  * preserved: elements are widened float→double (exact), multiplied
  * (exact: 24-bit mantissas), and summed LEFT TO RIGHT — the same op
  * sequence as the zip_with/aggregate fold and DuckDB's list_reduce.
  * Mismatched lengths or a NULL element yield NULL (zip_with pads with
  * NULL and NULL poisons the fold — same outcome).
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  /** Can yield NULL for mismatched lengths / null elements even when both
    * children are non-nullable — without this override the non-nullable
    * codegen branch would emit an assignment to a `false` literal.
    */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"DotProductFloat expects two ARRAY<FLOAT> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(leftValue: Any, rightValue: Any): Any = {
    val a = leftValue.asInstanceOf[ArrayData]
    val b = rightValue.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sum; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Single-pass kernel behind [[NgramHashSet]] (object methods compile to
  * static forwarders, so generated code can call it directly).
  */
object NgramHash {

  /** FNV-1a 64-bit over UTF-16 code units — a stable 64-bit token hash
    * with no allocation.
    */
  private def tokenHash(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** Per-token FNV-1a hashes of `s` in token order (whitespace-run
    * tokenization, identical to graft.functions.tokens); second slot is
    * the token count (the returned array may be over-allocated).
    */
  private def tokenize(s: String): (Array[Long], Int) = {
    var tokenHashes = new Array[Long](16)
    var nTok = 0
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && KernelWhitespace.is(s.charAt(i))) i += 1
      val start = i
      while (i < len && !KernelWhitespace.is(s.charAt(i))) i += 1
      if (i > start) {
        if (nTok == tokenHashes.length) {
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTok * 2)
        }
        tokenHashes(nTok) = tokenHash(s, start, i)
        nTok += 1
      }
    }
    (tokenHashes, nTok)
  }

  /** Rolling-mix hashes of the n-windows of `tokenHashes`, in WINDOW
    * ORDER (element g is the hash of the n-gram starting at token g) —
    * the positional, non-deduped form the span-coverage operator needs
    * (position = array index). Empty when the doc has < n tokens.
    */
  private def gramSeq(tokenHashes: Array[Long], nTok: Int, n: Int): Array[Long] = {
    val nGrams = nTok - n + 1
    if (nGrams <= 0) return Array.emptyLongArray
    val grams = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      var h = 0L
      var k = 0
      while (k < n) {
        h = h * 0x9e3779b185ebca87L + tokenHashes(g + k)
        k += 1
      }
      grams(g) = h
      g += 1
    }
    grams
  }

  /** Distinct, SORTED hashes of the word n-grams of `text`: tokenize on
    * whitespace runs, hash tokens, combine each n-window with a rolling
    * mix, sort + dedupe in place. Equality of n-grams ⇒ equality of
    * hashes; the reverse holds modulo 64-bit collisions (the same caveat
    * as hashing shingle strings).
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val (tokenHashes, nTok) = tokenize(text.toString)
    val grams = gramSeq(tokenHashes, nTok, n)
    val nGrams = grams.length
    if (nGrams == 0) return new GenericArrayData(Array.emptyLongArray)
    java.util.Arrays.sort(grams)
    // in-place dedupe of the sorted array
    var out = 0
    var r = 0
    while (r < nGrams) {
      if (r == 0 || grams(r) != grams(r - 1)) { grams(out) = grams(r); out += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, out))
  }

  /** Positional variant of [[compute]]: the NON-deduped, UNSORTED gram
    * hash sequence, one element per n-window in token order — the start
    * position of gram i is i itself, so callers recover (position, gram)
    * with a plain posexplode instead of carrying a struct. Hash function
    * and tokenization are byte-identical to [[compute]], so a gram's
    * hash agrees between the set and seq forms.
    */
  def computeSeq(text: UTF8String, n: Int): ArrayData = {
    val (tokenHashes, nTok) = tokenize(text.toString)
    new GenericArrayData(gramSeq(tokenHashes, nTok, n))
  }

  /** Token count under the same explicit-whitespace tokenization — a
    * scan-only loop (no hashing, no allocation), equal by construction
    * to size(graft.functions.tokens(text)).
    */
  def countTokens(text: UTF8String): Long = {
    val s = text.toString
    var nTok = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && KernelWhitespace.is(s.charAt(i))) i += 1
      val start = i
      while (i < len && !KernelWhitespace.is(s.charAt(i))) i += 1
      if (i > start) nTok += 1
    }
    nTok
  }
}


/** Shared by the string kernels: the EXPLICIT whitespace class
  * [ \t\n\f\r] used by graft.functions.tokens — the least common
  * denominator of Java regex \s (which adds U+000B) and RE2/DuckDB \s
  * (which does not), so kernels, HOFs, and the SQL oracles all tokenize
  * identically. Character.isWhitespace would additionally match
  * U+2028/U+0085 and diverge from all of them.
  */
private[expressions] object KernelWhitespace {
  def is(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
}

/** Kernel behind [[SimHashNative]]: must reproduce EXACTLY the portable
  * arithmetic of TextAnalysis.simHash (and its DuckDB oracle): per token,
  * fold (acc*31 + codepoint) % 1000000007 over the CODE POINTS, reduce
  * modulo 2^bits, vote ±1 per bit, emit the sign bits. Iteration is by
  * code point (surrogate pairs consumed whole), matching the HOF spec's
  * per-character `ascii()` — folding UTF-16 units instead would silently
  * diverge on astral text (emoji, rare CJK); locked by the astral case in
  * OperatorsSpec.
  */
object SimHashKernel {
  def compute(text: UTF8String, bits: Int): Long = compute(text, bits, 31L)

  def compute(text: UTF8String, bits: Int, mult: Long): Long =
    compute(text, bits, mult, 0L)

  /** Generalized over the token-hash multiplier and the fold's INITIAL
    * accumulator (`seed`): multipliers 31 and 37 give two (effectively
    * independent) portable simhashes whose concatenation is the
    * 2×bits-wide signature behind Dedup.simhashMatchesWide — the scale
    * configuration whose band key space is wide enough for 100 TB
    * candidate buckets. The seed is what makes the families independent
    * on SINGLE-CHARACTER tokens: with both folds starting at 0,
    * (0·31+cp)%p == (0·37+cp)%p — every 1-char token votes identically
    * in both families; a nonzero seed for one family breaks the tie
    * ((seed·mult+cp) differs from cp for any cp).
    */
  def compute(text: UTF8String, bits: Int, mult: Long, seed: Long): Long = {
    val s = text.toString
    val votes = new Array[Int](bits)
    val mod = 1L << bits
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && KernelWhitespace.is(s.charAt(i))) i += 1
      var h = seed
      var inTok = false
      while (i < len && !KernelWhitespace.is(s.charAt(i))) {
        val cp = s.codePointAt(i)
        h = (h * mult + cp) % 1000000007L
        inTok = true
        i += Character.charCount(cp)
      }
      if (inTok) {
        val hm = h % mod
        var j = 0
        while (j < bits) {
          if (((hm >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Both multiplier families in ONE tokenization pass: the wide
    * signature sigA + sigB·2^bits, bit-identical to
    * compute(text,bits,multA,0) + compute(text,bits,multB,seedB)·2^bits
    * but half the per-row cost — the wide dedup signature is per-row
    * every-byte work, exactly where a second full scan of the text
    * multiplies at corpus scale. Requires 2·bits ≤ 62. `seedB` is the
    * B-family fold seed (see [[compute]] — a nonzero seed decorrelates
    * the families on 1-char tokens).
    */
  def computeWide(text: UTF8String, bits: Int,
                  multA: Long, multB: Long, seedB: Long): Long = {
    val s = text.toString
    val votesA = new Array[Int](bits)
    val votesB = new Array[Int](bits)
    val mod = 1L << bits
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && KernelWhitespace.is(s.charAt(i))) i += 1
      var ha = 0L
      var hb = seedB
      var inTok = false
      while (i < len && !KernelWhitespace.is(s.charAt(i))) {
        val cp = s.codePointAt(i)
        ha = (ha * multA + cp) % 1000000007L
        hb = (hb * multB + cp) % 1000000007L
        inTok = true
        i += Character.charCount(cp)
      }
      if (inTok) {
        val hma = ha % mod
        val hmb = hb % mod
        var j = 0
        while (j < bits) {
          if (((hma >> j) & 1L) == 1L) votesA(j) += 1 else votesA(j) -= 1
          if (((hmb >> j) & 1L) == 1L) votesB(j) += 1 else votesB(j) -= 1
          j += 1
        }
      }
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (votesA(j) > 0) sig |= 1L << j
      if (votesB(j) > 0) sig |= 1L << (bits + j)
      j += 1
    }
    sig
  }
}

/** Wide (2×bits) simhash of a string column in one compiled pass — the
  * fused form of simHashWith(multA) + simHashWith(multB)·2^bits (see
  * [[SimHashKernel.computeWide]]).
  */
case class SimHashWideNative(child: Expression, bits: Int,
                             multA: Long = 31L, multB: Long = 37L,
                             seedB: Long = 1L)
    extends UnaryExpression {

  require(bits >= 1 && 2 * bits <= 62)
  require(multA > 0 && multB > 0)
  require(seedB >= 0)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"SimHashWideNative expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.computeWide(input.asInstanceOf[UTF8String], bits, multA, multB, seedB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SimHashKernel.computeWide($c, $bits, ${multA}L, ${multB}L, ${seedB}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel behind [[PolyHashNative]]: the PORTABLE polynomial hash —
  * fold (acc*31 + codepoint) % mod over the CODE POINTS of the whole
  * string (no tokenization; whitespace folds like any character) —
  * reproducing TextAnalysis.polyHash's HOF arithmetic exactly:
  * acc < mod = 1e9+7 keeps acc*31 + cp well inside a long, so the
  * per-step modulo sequence is identical. Surrogate pairs are consumed
  * whole (codePointAt + charCount), matching Java-regex `split(c, "")`
  * which never splits within a pair; locked by the astral parity spec.
  */
object PolyHashKernel {
  def compute(text: UTF8String, mod: Long): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** Portable polynomial hash of a string column in one compiled pass —
  * same value as the interpreted chars-transform-aggregate composition
  * (kept as the executable spec in TextAnalysis.polyHashHof). This is
  * the hash under document fingerprints, KMV sketch entries, and the
  * table checksum — per-row, every-byte work at 100 TB, exactly where
  * an interpreted per-character lambda walk hurts most.
  */
case class PolyHashNative(child: Expression, mod: Long) extends UnaryExpression {

  require(mod > 0, "modulus must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"PolyHashNative expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PolyHashKernel.compute(input.asInstanceOf[UTF8String], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.PolyHashKernel.compute($c, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash of a string column in one compiled pass — same value as the
  * HOF composition in TextAnalysis.simHash, which walks interpreted
  * nested lambdas per token and dominated the simhash dedup benchmark.
  */
case class SimHashNative(child: Expression, bits: Int, mult: Long = 31L,
                         seed: Long = 0L)
    extends UnaryExpression {

  require(bits >= 1 && bits <= 62)
  require(mult > 0)
  require(seed >= 0)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"SimHashNative expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SimHashKernel.compute(input.asInstanceOf[UTF8String], bits, mult, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SimHashKernel.compute($c, $bits, ${mult}L, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct sorted word-n-gram hashes of a string column in ONE compiled
  * pass. The equivalent composition of built-ins —
  * array_sort(array_distinct(transform(shingles(tokens(text)), xxhash64)))
  * — walks five interpreted higher-order functions per row and dominated
  * the dedup benchmarks; this expression is the same set semantics as a
  * tight loop. Output is sorted, so it feeds
  * [[IntersectCountSortedLong]] directly.
  */
case class NgramHashSet(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"NgramHashSet expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NgramHash.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NgramHash.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[NgramHashSeq]]'s PORTABLE sibling: positional polyHash of each
  * word n-gram — element i equals
  * `polyHash(array_join(slice(tokens, i+1, n), ' '))` bit-for-bit
  * (code-POINT fold, single joining spaces) without materializing any
  * gram string: token boundaries are found once and each gram folds the
  * original text's code points in place. For operators whose gram
  * hashes SURFACE in oracle-gated output (winnowing fingerprints) and
  * therefore cannot use the engine-internal FNV mix above.
  */
object PolyGramHash {

  def computeSeq(text: UTF8String, n: Int, mod: Long): ArrayData = {
    val s = text.toString
    val len = s.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && KernelWhitespace.is(s.charAt(i))) i += 1
      val start = i
      while (i < len && !KernelWhitespace.is(s.charAt(i))) i += 1
      if (i > start) {
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = start
        ends(nTok) = i
        nTok += 1
      }
    }
    val nGrams = nTok - n + 1
    if (nGrams <= 0) return new GenericArrayData(Array.emptyLongArray)
    val grams = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      var h = 0L
      var t = g
      while (t < g + n) {
        if (t > g) h = (h * 31 + 32) % mod // the joining space
        var j = starts(t)
        while (j < ends(t)) {
          val cp = s.codePointAt(j)
          h = (h * 31 + cp) % mod
          j += Character.charCount(cp)
        }
        t += 1
      }
      grams(g) = h
      g += 1
    }
    new GenericArrayData(grams)
  }
}

/** Positional portable gram hashes ([[PolyGramHash]]): the compiled
  * equivalent of `transform(shingles(tokens(s), n), g -> polyHash(g))`.
  */
case class PolyGramHashSeq(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"PolyGramHashSeq expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PolyGramHash.computeSeq(input.asInstanceOf[UTF8String], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.PolyGramHash.computeSeq($c, $n, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** POSITIONAL word-n-gram hashes of a string column in one compiled
  * pass: element i is the hash of the n-gram starting at token i (non-
  * deduped, unsorted — [[NgramHashSet]]'s sibling for operators that
  * need WHERE a gram occurs, not just whether). Replaces the interpreted
  * shingles() HOF in the span-coverage hot path, and moves the gram join
  * key from a space-joined STRING to an 8-byte LONG — at 100 TB the
  * df-filter shuffle carries fixed-width keys instead of re-materialized
  * text.
  */
case class NgramHashSeq(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"NgramHashSeq expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NgramHash.computeSeq(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NgramHash.computeSeq($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token count of a string column in one compiled scan — equal by
  * construction to size(graft.functions.tokens(text)) (same explicit
  * whitespace class) without materializing the token array or walking
  * the interpreted split+filter HOF pair.
  */
case class TokenCountNative(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"TokenCountNative expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NgramHash.countTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NgramHash.countTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel behind [[MarkerCounts]]: tokenize ONCE on the explicit
  * whitespace class and count, per marker list, how many tokens are
  * members. Token/marker equality is code-point equality, same as the
  * `array_contains(markers, token)` comparison in the HOF spec
  * (TextAnalysis.langScore) and the DuckDB `list_contains` oracle.
  *
  * Marker lists are tiny (a handful of stopwords per language), so the
  * membership test is a length-gated linear scan with zero per-token
  * allocation — no substring, no hash set.
  */
object MarkerCountKernel {
  def compute(text: UTF8String, markers: Array[Array[String]]): ArrayData = {
    val s = text.toString
    val nLists = markers.length
    val counts = new Array[Long](nLists)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && KernelWhitespace.is(s.charAt(i))) i += 1
      val start = i
      while (i < len && !KernelWhitespace.is(s.charAt(i))) i += 1
      if (i > start) {
        val tokLen = i - start
        var l = 0
        while (l < nLists) {
          val ms = markers(l)
          var m = 0
          var hit = false
          while (m < ms.length && !hit) {
            val w = ms(m)
            if (w.length == tokLen && s.regionMatches(start, w, 0, tokLen)) hit = true
            m += 1
          }
          if (hit) counts(l) += 1
          l += 1
        }
      }
    }
    new GenericArrayData(counts)
  }
}

/** Per-language marker-token hit counts of a string column in ONE compiled
  * tokenize pass. The HOF spec it replaces (4× `filter(tokens(text),
  * array_contains(...))`) re-tokenizes the text once per language through
  * interpreted lambdas and dominated the lang-id benchmark. Output order
  * follows the `markers` list order.
  */
case class MarkerCounts(child: Expression, markers: Seq[Seq[String]])
    extends UnaryExpression {

  require(markers.nonEmpty && markers.forall(_.nonEmpty))

  @transient private lazy val markerArr: Array[Array[String]] =
    markers.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"MarkerCounts expects a STRING input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MarkerCountKernel.compute(input.asInstanceOf[UTF8String], markerArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markers", markerArr, "java.lang.String[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.MarkerCountKernel.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two SORTED, DISTINCT long arrays via a codegen'd
  * two-pointer merge — O(|A|+|B|) with zero allocation, replacing
  * `size(array_intersect(a, b))`, which builds a hash set per evaluation.
  * This is the verification kernel of the Jaccard dedup operators: it runs
  * once per candidate PAIR (millions of times per job), which is exactly
  * where a per-row hash-set allocation hurts.
  *
  * Inputs must be pre-sorted (once per document, not per pair) —
  * NgramHashSet emits sorted arrays directly. Results equal
  * size(array_intersect) for distinct inputs, so oracle semantics are
  * unchanged.
  */
case class IntersectCountSortedLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"IntersectCountSortedLong expects two ARRAY<BIGINT> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(leftValue: Any, rightValue: Any): Any = {
    val a = leftValue.asInstanceOf[ArrayData]
    val b = rightValue.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { cnt += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long ${ev.value}Cnt = 0L;
         |while ($i < $na && $j < $nb) {
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}Cnt++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = ${ev.value}Cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel behind [[graft.functions.multisetClipMaxRef]]: the multi-reference clipped
  * gram overlap Σ_g min(count_cand(g), max_r count_ref_r(g)) over one
  * SORTED candidate array and an array of SORTED reference arrays — the
  * BLEU per-order numerator (Papineni 2002 §2.1) computed row-locally.
  *
  * Single synchronized pass: the candidate walks in runs of equal
  * grams; each reference keeps a monotone cursor that skips grams
  * smaller than the current candidate run, then counts its own run of
  * equal grams. Cursors only ever advance (candidate runs are sorted
  * ascending), so the total cost is O(|cand| + Σ|refs|) UTF8String
  * comparisons with zero allocation beyond the cursor array — no
  * per-(pair, gram) hash map, no explode.
  */
object MultisetClipKernel {

  /** NULL elements match nothing and are skipped — the kernels are
    * reachable from raw SQL through the graft_* registrations, where a
    * user can hand them array(CAST(NULL AS STRING)); an NPE there would
    * be an executor crash, not a type error.
    */
  def clipMaxRef(cand: ArrayData, refs: ArrayData): Long = {
    val n = cand.numElements()
    val k = refs.numElements()
    val cur = new Array[Int](k)
    var total = 0L
    var i = 0
    while (i < n) {
      if (cand.isNullAt(i)) { i += 1 }
      else {
        val g = cand.getUTF8String(i)
        var cc = 1
        while (i + cc < n && !cand.isNullAt(i + cc) &&
          cand.getUTF8String(i + cc).equals(g)) cc += 1
        var maxRc = 0
        var r = 0
        while (r < k) {
          if (!refs.isNullAt(r)) {
            val ra = refs.getArray(r)
            val m = ra.numElements()
            var p = cur(r)
            while (p < m && (ra.isNullAt(p) ||
              ra.getUTF8String(p).compareTo(g) < 0)) p += 1
            cur(r) = p // run start; the next candidate gram skips past it
            var rc = 0
            while (p + rc < m && !ra.isNullAt(p + rc) &&
              ra.getUTF8String(p + rc).equals(g)) rc += 1
            if (rc > maxRc) maxRc = rc
          }
          r += 1
        }
        total += math.min(cc, maxRc).toLong
        i += cc
      }
    }
    total
  }

  /** Two-pointer multiset intersection of two SORTED string arrays —
    * the [[graft.functions.multisetIntersectSorted]] kernel body, shared by its
    * interpreted and generated paths; NULL elements match nothing.
    */
  def intersectSorted(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { cnt += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    cnt
  }
}

/** Kernel behind [[NearestCentroidCell]]: argmax-cosine over a centroid
  * matrix held as plain JVM arrays. Must replicate BIT-FOR-BIT the
  * composition it replaces — per centroid (ascending cid)
  * `when(norm*cn =!= 0.0, dotF(v, cvec) / (norm*cn))`, then
  * `max_by(cid, struct(cos, -cid))`: dot is the left-to-right
  * float→double widening fold of [[DotProductFloat]]; a NULL cosine
  * (zero denominator, length mismatch, null element) is skipped exactly
  * as it sorts below every value; ties keep the SMALLEST cid (strict `>`
  * over ascending cids); Double.compare makes NaN the largest value,
  * matching Spark's double ordering; and the all-NULL row falls back to
  * the smallest cid (the struct ordering's -cid tie-break).
  */
object NearestCentroidKernel {
  def compute(vec: ArrayData, norm: Double, cids: Array[Long],
              cents: Array[Array[Float]], norms: Array[Double]): Long = {
    val n = vec.numElements()
    var hasNull = false
    var j = 0
    while (j < n && !hasNull) { if (vec.isNullAt(j)) hasNull = true else j += 1 }
    var best = 0.0
    var bestCid = cids(0)
    var found = false
    if (!hasNull) {
      var i = 0
      while (i < cids.length) {
        val c = cents(i)
        val denom = norm * norms(i)
        if (denom != 0.0 && c.length == n) {
          var dot = 0.0
          var k = 0
          while (k < n) { dot += vec.getFloat(k).toDouble * c(k).toDouble; k += 1 }
          val cos = dot / denom
          if (!found || java.lang.Double.compare(cos, best) > 0) {
            best = cos; bestCid = cids(i); found = true
          }
        }
        i += 1
      }
    }
    bestCid
  }
}

/** Nearest-centroid cell id for an embedding column — the IVF hot kernel.
  *
  * The composed form (k cosine expressions + greatest + a cid when-chain)
  * embeds the centroid VALUES in the generated source, so every k-means
  * iteration — new centroids — recompiles codegen from scratch; here the
  * matrix rides as a reference object and the generated source depends on
  * nothing but the expression shape (codegen cache hit across
  * iterations), with one fused pass per row and zero allocation.
  *
  * NULL inputs yield the smallest cid, not NULL — the exact behavior of
  * the max_by composition this replaces (see [[NearestCentroidKernel]]),
  * which is why this expression is NOT null-intolerant.
  */
case class NearestCentroidCell(vec: Expression, norm: Expression,
                               cids: Array[Long], cents: Array[Array[Float]],
                               norms: Array[Double])
    extends BinaryExpression {

  require(cids.nonEmpty && cids.length == cents.length && cids.length == norms.length)
  require((1 until cids.length).forall(i => cids(i - 1) < cids(i)),
    "cids must be strictly ascending (ties resolve to the smallest cid)")

  override def left: Expression = vec
  override def right: Expression = norm

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, norm.dataType) match {
    case (ArrayType(FloatType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (v, n) => TypeCheckResult.TypeCheckFailure(
      s"NearestCentroidCell expects (ARRAY<FLOAT>, DOUBLE), got " +
        s"(${v.simpleString}, ${n.simpleString})")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    val nv = norm.eval(input)
    if (v == null || nv == null) cids(0)
    else NearestCentroidKernel.compute(v.asInstanceOf[ArrayData],
      nv.asInstanceOf[Double], cids, cents, norms)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
    val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
    val vEv = vec.genCode(ctx)
    val nEv = norm.genCode(ctx)
    ev.copy(
      code = vEv.code + nEv.code +
        code"""
          |long ${ev.value} = (${vEv.isNull} || ${nEv.isNull})
          |  ? $cidsRef[0]
          |  : graft.expressions.NearestCentroidKernel.compute(
          |      ${vEv.value}, ${nEv.value}, $cidsRef, $centsRef, $normsRef);
          """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(vec = newLeft, norm = newRight)
}

/** Kernel behind [[PqEncode]]: per-block argmin-L2 codes. Must replicate
  * BIT-FOR-BIT the HOF composition `Pq.encodeHof` (the executable spec):
  * per block, per centroid, the squared distance is the LEFT-TO-RIGHT
  * fold of (double(x) − double(c))² — float→double widening is exact,
  * subtraction and multiplication are one IEEE rounding each, and the
  * running sum starts at 0.0 (0.0 + d² == d², so DuckDB's init-free
  * list_reduce agrees) — and ties keep the SMALLEST code (strict `<`
  * over ascending codes, the same first-position-of-min the HOF's
  * array_position picks).
  */
object PqEncodeKernel {
  /** @return codes array, or null for a null element / length mismatch. */
  def compute(vec: ArrayData, cents: Array[Array[Array[Float]]]): GenericArrayData = {
    val m = cents.length
    val sub = cents(0)(0).length
    val n = vec.numElements()
    if (n != m * sub) return null
    var j = 0
    while (j < n) { if (vec.isNullAt(j)) return null; j += 1 }
    val codes = new Array[Long](m)
    var b = 0
    while (b < m) {
      val block = cents(b)
      var best = 0.0
      var bestCode = 0
      var c = 0
      while (c < block.length) {
        val cent = block(c)
        var dist = 0.0
        var i = 0
        while (i < sub) {
          val d = vec.getFloat(b * sub + i).toDouble - cent(i).toDouble
          dist += d * d
          i += 1
        }
        if (c == 0 || java.lang.Double.compare(dist, best) < 0) {
          best = dist; bestCode = c
        }
        c += 1
      }
      codes(b) = bestCode.toLong
      b += 1
    }
    new GenericArrayData(codes)
  }
}

/** Product-quantization codes for an embedding column — the hot kernel of
  * a compressed 100 TB vector store (m bytes per vector instead of 4·dim).
  *
  * One fused pass per row over all m sub-blocks; the codebook
  * (m × k × dim/m floats) rides as a codegen reference object, so
  * codebook retraining reuses compiled code exactly like
  * [[NearestCentroidCell]]. Codes are the centroid INDICES 0..k−1 per
  * block (compact by construction — ADC distance tables index by them).
  */
case class PqEncode(vec: Expression, cents: Array[Array[Array[Float]]])
    extends UnaryExpression {

  require(cents.nonEmpty && cents.forall(_.nonEmpty), "need m>=1 blocks, k>=1 codes")
  require(cents.forall(b => b.forall(_.length == cents(0)(0).length)),
    "all centroids must share the sub-block dimension")
  require(cents.forall(_.length == cents(0).length),
    "all blocks must share the code count k")

  override def child: Expression = vec
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case v => TypeCheckResult.TypeCheckFailure(
      s"PqEncode expects ARRAY<FLOAT>, got ${v.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null
    else PqEncodeKernel.compute(v.asInstanceOf[ArrayData], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][][]")
    val vEv = vec.genCode(ctx)
    ev.copy(code = vEv.code +
      code"""
        |boolean ${ev.isNull} = true;
        |org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} = null;
        |if (!${vEv.isNull}) {
        |  ${ev.value} = graft.expressions.PqEncodeKernel.compute(
        |      ${vEv.value}, $centsRef);
        |  ${ev.isNull} = (${ev.value} == null);
        |}
        """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(vec = newChild)
}

/** Kernel behind the repetition metric: longest equal-neighbor run in a
  * SORTED long array — i.e. the max multiplicity of any element. Pairs
  * with [[NgramHashSeq]] + array_sort to replace the interpreted
  * struct-fold over string shingles in TextAnalysis.maxNgramRepeat
  * (measured 7.5s → ~1s for the q84 gate at sf0.1): grams travel as
  * longs and the run scan is one compiled pass. Equal to the HOF spec
  * (TextAnalysis.maxNgramRepeatSpec) up to gram-hash collisions
  * (~2^-64, the caveat every hashed-shingle operator here shares).
  * Empty array → 0; a NULL element → NULL (sorted nulls would cluster
  * and fake a run).
  */
case class MaxEqualRunLongs(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"MaxEqualRunLongs expects ARRAY<BIGINT>, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      var best = 0L
      var run = 0L
      var i = 0
      var prev = 0L
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = a.getLong(i)
        run = if (i > 0 && x == prev) run + 1 else 1L
        if (run > best) best = run
        prev = x
        i += 1
      }
      best
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val run = ctx.freshName("run")
      val prev = ctx.freshName("prev")
      val x = ctx.freshName("x")
      s"""
         |final int $n = $arr.numElements();
         |long ${ev.value}Best = 0L;
         |long $run = 0L;
         |long $prev = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final long $x = $arr.getLong($i);
         |  $run = ($i > 0 && $x == $prev) ? $run + 1L : 1L;
         |  if ($run > ${ev.value}Best) ${ev.value}Best = $run;
         |  $prev = $x;
         |}
         |${ev.value} = ${ev.value}Best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
