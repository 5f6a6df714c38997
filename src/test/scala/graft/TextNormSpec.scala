package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextNormSpec extends SparkSpec {
  import spark.implicits._

  private val Acute = 0x0301.toChar.toString // combining acute
  private val Zws = 0x200B.toChar.toString // zero-width space (Cf)
  private val Zwj = 0x200D.toChar.toString // zero-width joiner (Cf)
  private val Vt = 0x000B.toChar.toString // vertical tab (Cc, not RE2 \\s)

  private def canonOf(s: String): String =
    Seq(s).toDF("t").select(TextAnalysis.canonicalize($"t").as("c"))
      .as[String].head

  test("nfc composes combining sequences; ascii passes through") {
    val got = Seq("Cafe" + Acute, "plain ascii").toDF("t")
      .select(graft.functions.nfc($"t")).as[String].collect()
    assert(got.toSeq == Seq("Café", "plain ascii"))
  }

  test("nfc is null-preserving") {
    val got = Seq(Option.empty[String]).toDF("t")
      .select(graft.functions.nfc($"t")).collect()
    assert(got.head.isNullAt(0))
  }

  test("canonicalize: collapse, strip, trim, compose") {
    // tab + VT + multi-space collapse; ZWS/ZWJ stripped; NFC composed;
    // ends trimmed
    assert(canonOf(s" Cafe$Acute$Zws  du\tmonde $Vt zw${Zwj}j: x ") ==
      "Café du monde zwj: x")
    // already-canonical text is a fixpoint
    assert(canonOf("Café du monde zwj: x") == "Café du monde zwj: x")
  }

  test("canonicalize merges exact-dup groups split by invisible bytes") {
    val docs = Seq("a b", s"a$Zws b", "a  b", "a\tb").toDF("t")
    val distinct = docs.select(TextAnalysis.canonicalize($"t").as("c"))
      .distinct().count()
    assert(distinct == 1L)
  }

  test("readability: FK grade from exact counts, NULL without sentences") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "no terminator here"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = got(0)
    // 2 sentences, 6 words, syllable runs: e,a,a,e,o,a (6)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == (2L, 6L, 6L))
    assert(math.abs(r1.getDouble(4) -
      (0.39 * 3.0 + 11.8 * 1.0 - 15.59)) < 1e-12)
    // no sentence terminator → the whole text is one sentence fragment
    assert(got(1).getLong(1) == 1L && !got(1).isNullAt(4))
    // empty text → no sentences, no words → NULL grade
    assert(got(2).getLong(1) == 0L && got(2).isNullAt(4))
  }

  test("graft_nfc and graft_canonical_text are SQL-callable") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      s"SELECT graft_nfc('Café') AS n, graft_canonical_text(' a\tb ') AS c")
      .head
    assert(r.getString(0) == "Café" && r.getString(1) == "a b")
  }
}
