package graft

import org.apache.spark.sql.functions._

/** Round-18 optimization gate: the compiled
  * [[graft.queries.AudioFixtures.dedupPayload]] writer must produce
  * BYTE-IDENTICAL WAVs to the Catalyst `audioDedupPayload` expression
  * it replaced in q367/q375's hot path — over every residue the
  * fixture branches on (v = doc%3 codec split, doc%10 == 9 truncation,
  * f-dependent lengths and code streams). Equal bytes ⇒ equal
  * audioHash ⇒ equal pair/cluster/survivor counts, so this spec is
  * the equivalence proof the oracle then re-confirms end to end.
  */
class AudioDedupPayloadSpec extends SparkSpec {

  test("compiled dedupPayload equals the Catalyst expression byte-for-byte") {
    import spark.implicits._
    // 0..899 covers 300 full f-cycles of every (v, doc%10, doc%90/13)
    // interaction; the sparse tail exercises large-f arithmetic.
    val ids = (0L until 900L) ++ Seq(4999L, 12345L, 99991L, 1234567L)
    val got = ids.toDF("doc_id")
      .select(col("doc_id"),
        graft.queries.MediaDedupQueries.audioDedupPayload(col("doc_id")).as("e"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("e")).toMap
    ids.foreach { id =>
      val scala = graft.queries.AudioFixtures.dedupPayload(id)
      val expr = got(id)
      assert(expr != null, s"expression NULL at doc_id=$id")
      assert(java.util.Arrays.equals(scala, expr),
        s"byte mismatch at doc_id=$id: scala len ${scala.length}, " +
          s"expr len ${expr.length}")
    }
  }
}
