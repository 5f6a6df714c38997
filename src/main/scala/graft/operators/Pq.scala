package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the compressed representation a 100 TB vector
  * store actually serves ANN from: each dim-D float vector (4·D bytes)
  * becomes m small integer codes (one byte each at k ≤ 256), a 32× size
  * reduction at D=64/m=8, and queries run against the codes via
  * asymmetric distance computation (ADC) — one m-lookup table sum per
  * candidate instead of a D-wide float scan.
  *
  * Spark shapes, per step:
  *  - codebooks are m × k × (D/m) floats — driver-small BY CONSTRUCTION
  *    (the whole point is k ≤ 256), so they ride into [[encode]] as a
  *    codegen reference object (one fused map-only pass, no join, no
  *    shuffle — the [[graft.expressions.PqEncode]] kernel).
  *  - [[refineCodebooks]] (per-block Lloyd / L2) is one map-side
  *    combinable aggregate per iteration over (block, code) keys —
  *    m·k groups regardless of corpus size.
  *  - [[adcTopK]] scans CODES, not vectors: the query's distance table
  *    (m·k doubles) is a plan literal; per row one m-step fold; global
  *    top-k via TakeOrderedAndProject (per-partition heads, no full
  *    sort, nothing wide ever shuffles).
  *
  * Codebook DataFrame contract: (block INT 0..m−1, code LONG 0..k−1,
  * cvec ARRAY<FLOAT> of length D/m) — codes compact per block, because
  * ADC tables index by them.
  */
object Pq {

  /** Deterministic codebook init from the corpus itself: the first k
    * vectors by id, sliced per block (code = id). The zero-cost stand-in
    * where training isn't needed — oracle-checked queries use it
    * directly so codes stay reproducible in SQL; [[refineCodebooks]]
    * turns it into trained codebooks.
    */
  def firstKCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, k: Int, dim: Int): DataFrame = {
    require(m > 0 && dim % m == 0, "dim must divide into m equal blocks")
    val sub = dim / m
    corpus.filter(col(idCol) < k)
      .select(col(idCol).cast("long").as("code"), col(vecCol).as("__v"))
      .select(explode(sequence(lit(0), lit(m - 1))).as("block"),
        col("code"), col("__v"))
      .select(col("block"), col("code"),
        slice(col("__v"), col("block") * sub + 1, lit(sub)).as("cvec"))
  }

  /** (m × k × sub) array from the codebook table; validates compactness. */
  private[operators] def collectCodebooks(codebooks: DataFrame): Array[Array[Array[Float]]] = {
    val rows = codebooks.select(col("block").cast("int"), col("code").cast("long"),
      col("cvec")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, "empty codebook")
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val sub = rows.head._3.length
    val out = Array.ofDim[Array[Float]](m, k.toInt)
    rows.foreach { case (b, c, v) =>
      require(v.length == sub, "all centroids must share the sub-dimension")
      out(b)(c.toInt) = v
    }
    require(out.forall(_.forall(_ != null)),
      s"codebook must be compact: all (block < $m, code < $k) present")
    out
  }

  /** PQ codes per vector — map-only, fused kernel pass ([[graft.expressions.PqEncode]]).
    * NULL codes for a malformed vector (null element / length ≠ D).
    */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
             codebooks: DataFrame): DataFrame =
    encodeWith(vectors, idCol, vecCol, codebooks, Nil)

  /** [[encode]] carrying extra columns through the map-only pass —
    * consumers that need both codes and source columns (Lloyd training
    * needs the vector itself) get them from ONE projection instead of
    * encoding and joining back by id. At scale that join is an id-keyed
    * shuffle of the full vector payload per use; carrying the column is
    * free (same scan, same kernel, wider rows only until the next
    * aggregate prunes them).
    */
  def encodeWith(vectors: DataFrame, idCol: String, vecCol: String,
                 codebooks: DataFrame, carryCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val cb = collectCodebooks(codebooks)
    vectors.select((col(idCol) +: carryCols.map(col) :+
      toColumn(graft.expressions.PqEncode(toExpression(col(vecCol)), cb))
        .as("codes")): _*)
  }

  /** Executable spec for [[encode]] in pure catalyst HOFs, bit-identical
    * on well-formed vectors (the kernel's doc spells out the fold-order
    * contract): per block, squared L2 against each centroid literal as a
    * left-to-right `aggregate` fold of (double(x)−double(c))², argmin as
    * first-position-of-min. Interpreted lambdas — k·D work per row with
    * no codegen — which is why the kernel exists; this form is the
    * oracle-shaped definition the property suite holds it to.
    */
  def encodeHof(vectors: DataFrame, idCol: String, vecCol: String,
                codebooks: DataFrame): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val sub = cb(0)(0).length
    val codes = array((0 until m).map { b =>
      val sl = slice(col(vecCol), b * sub + 1, sub)
      val dists = array(cb(b).indices.map { c =>
        val cent = typedlit(cb(b)(c).toSeq)
        aggregate(
          zip_with(sl, cent, (x, cc) =>
            (x.cast("double") - cc.cast("double")) *
              (x.cast("double") - cc.cast("double"))),
          lit(0.0), (acc, d) => acc + d)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("long")
    }: _*)
    vectors.select(col(idCol), codes.as("codes"))
  }

  /** Per-block Lloyd refinement under L2 — PQ's standard training loop.
    * Each iteration: one corpus pass ([[lloydSums]]: encode carrying the
    * vector, no join) → per-(block, code) elementwise mean of the
    * assigned sub-vectors — ONE hash aggregate with map-side partials
    * over m·k groups, corpus never collected, codebooks stay
    * driver-small. Empty cells keep their previous centroid.
    */
  def refineCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                      codebooks: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0)
    val spark = corpus.sparkSession
    var cb = collectCodebooks(codebooks)
    val sub = cb(0)(0).length
    for (_ <- 0 until iterations) {
      val cbDf = cbToDf(spark, cb)
      val sums = lloydSums(corpus, idCol, vecCol, cbDf, sub).collect()
      val next = cb.map(_.clone())
      sums.foreach { r =>
        val b = r.getAs[Int]("block")
        val c = r.getAs[Long]("code").toInt
        val n = r.getAs[Long]("n").toDouble
        next(b)(c) = r.getSeq[Double](r.fieldIndex("vsum"))
          .map(s => (s / n).toFloat).toArray
      }
      cb = next
    }
    cbToDf(spark, cb)
  }

  /** One Lloyd iteration's per-(block, code) sufficient statistics —
    * count and elementwise sub-vector sum. The vector column rides
    * THROUGH the encode projection ([[encodeWith]]) so the plan is
    * scan → kernel → posexplode → partial agg → m·k-group exchange:
    * no join anywhere, and the only shuffle is m·k aggregate rows
    * (round 8's shape joined the codes back to the corpus by id — an
    * id-keyed shuffle of the full vector payload per iteration, the
    * dominant training cost at corpus scale; PqSpec pins the no-join
    * plan so it cannot regress).
    */
  private[graft] def lloydSums(corpus: DataFrame, idCol: String,
                                   vecCol: String, codebooks: DataFrame,
                                   sub: Int): DataFrame =
    encodeWith(corpus, idCol, vecCol, codebooks, Seq(vecCol))
      .filter(col("codes").isNotNull)
      .select(col(vecCol).as("__v"),
        posexplode(col("codes")).as(Seq("block", "code")))
      .groupBy(col("block"), col("code"))
      .agg(count(lit(1)).as("n"),
        array((0 until sub).map(i =>
          sum(element_at(col("__v"),
            col("block") * sub + i + 1).cast("double")).as(s"s$i")): _*)
          .as("vsum"))

  private def cbToDf(spark: org.apache.spark.sql.SparkSession,
                     cb: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (block, b) =>
      block.zipWithIndex.map { case (cent, c) => (b, c.toLong, cent.toSeq) }
    }.toSeq.toDF("block", "code", "cvec")
  }

  /** The query-side ADC distance table: D[b·k + c] = ‖q_b − c_{b,c}‖²,
    * same fold order as the encode kernel so oracle SQL can reproduce
    * every double bit.
    */
  private[operators] def adcTable(query: Array[Float],
                                  cb: Array[Array[Array[Float]]]): Array[Double] = {
    val m = cb.length
    val k = cb(0).length
    val sub = cb(0)(0).length
    require(query.length == m * sub, "query dimension must match codebook")
    val table = new Array[Double](m * k)
    for (b <- 0 until m; c <- 0 until k) {
      var dist = 0.0
      var i = 0
      while (i < sub) {
        val d = query(b * sub + i).toDouble - cb(b)(c)(i).toDouble
        dist += d * d
        i += 1
      }
      table(b * k + c) = dist
    }
    table
  }

  /** Multi-query ADC top-k: the codes table is scanned ONCE for the
    * whole query batch, each candidate scored against every query by an
    * m-lookup fold into that query's distance table. Two physically
    * different plans, same results:
    *
    *  - **literal path** (small batches): all tables ride as ONE flat
    *    plan literal (nq × m × k doubles — a 20-query 8×16 codebook is
    *    2,560 doubles), candidates posexplode the qid literal and index
    *    the flat table by __qi·(m·k)+i. Zero joins, but the literal is
    *    compiled into the plan, so it only suits batches up to
    *    `literalLimit` table entries.
    *  - **broadcast path** (nq·m·k > literalLimit): per-query tables
    *    become a driver-built nq-row relation, broadcast and
    *    cross-joined to the codes scan (BroadcastNestedLoopJoin with an
    *    nq-row build side — the candidate×query fan-out is the SAME
    *    row multiplication the literal path's posexplode performs), and
    *    the fold indexes the row's own table array. No plan-size limit;
    *    tables ship once per executor instead of inside the codegen'd
    *    plan.
    *
    * Per-(candidate, query) distance is the same block-ordered left fold
    * as [[adcTopK]] in both paths, so results are deterministic,
    * path-independent (PqSpec pins literal ≡ broadcast on the same
    * batch) and oracle-derivable.
    *
    * @return (qid, rank, nid, adist) — rank per qid by (adist asc, nid
    *         asc), rank ≤ k.
    */
  def adcTopKMulti(vectors: DataFrame, idCol: String, vecCol: String,
                   queries: Seq[(Long, Array[Float])], codebooks: DataFrame,
                   k: Int, excludeSelf: Boolean = true,
                   literalLimit: Int = 1 << 16): DataFrame = {
    require(queries.nonEmpty && k > 0)
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate qids: each would produce duplicated, nondeterministically" +
        " interleaved result rows — dedupe the batch first")
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val kk = cb(0).length
    val entries = queries.length.toLong * m * kk
    require(entries < Int.MaxValue,
      s"nq*m*k = $entries overflows the flat-table index space")
    val qs = queries.sortBy(_._1)
    val codes = encode(vectors, idCol, vecCol, codebooks)
      .filter(col("codes").isNotNull)
    val flatIdx = zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
      (c, b) => b * kk + c)
    val scored =
      if (entries <= literalLimit) {
        val table = typedlit(qs.flatMap { case (_, qv) => adcTable(qv, cb) })
        val qids = typedlit(qs.map(_._1))
        codes
          .select(col(idCol), col("codes"),
            posexplode(qids).as(Seq("__qi", "qid")))
          .withColumn("adist",
            aggregate(flatIdx, lit(0.0), (acc, i) =>
              acc + element_at(table,
                (col("__qi") * (m * kk) + i + 1).cast("int"))))
      } else {
        val spark = vectors.sparkSession
        import spark.implicits._
        val qdf = qs.map { case (qid, qv) => (qid, adcTable(qv, cb).toSeq) }
          .toDF("qid", "__qtable")
        codes
          .crossJoin(broadcast(qdf))
          .withColumn("adist",
            aggregate(flatIdx, lit(0.0), (acc, i) =>
              acc + element_at(col("__qtable"), (i + 1).cast("int"))))
      }
    val kept = if (excludeSelf) scored.filter(col("qid") =!= col(idCol)) else scored
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(idCol))
    kept.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("nid"), col("adist"))
  }

  /** IVF-PQ: coarse cell pruning composed with ADC ranking — the
    * production index shape (a FAISS IVF,PQ analogue). The corpus is
    * assigned to cells by the SAME map-only cosine kernel as the IVF-Flat
    * tier ([[Similarity.ivfAssign]]); the query probes its nProbe best
    * cells (a driver-side argmax over k centroids — centroids are
    * driver-small by design, and the cosine here replicates the in-plan
    * arithmetic bit-for-bit: exact float→double widening, left-to-right
    * dot fold, correctly-rounded sqrt — so the oracle re-derives the
    * probe set); only candidates in probed cells are encoded and
    * ADC-ranked. Corpus-side cost per query ≈ nProbe/|cells| of the
    * codes scan; nothing wide ever shuffles.
    *
    * Honest divergence from classic IVFPQ: same-metric residual encoding
    * is replaced by raw-vector codes under the library's cosine coarse
    * tier — the compression and pruning scale shape is identical, and
    * every step stays SQL-derivable for the oracle gate.
    *
    * @return (idCol, cell, adist) — top `topK` by (adist asc, id asc).
    */
  def ivfAdcTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 query: Array[Float], centroids: DataFrame, codebooks: DataFrame,
                 nProbe: Int, topK: Int, excludeId: Option[Long] = None): DataFrame = {
    require(nProbe > 0 && topK > 0)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qNorm = math.sqrt(dot(query, query))
    val probed = centroids.select(col("cid").cast("long"), col("cvec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .flatMap { case (cid, c) =>
        val denom = qNorm * math.sqrt(dot(c, c))
        if (denom == 0.0 || c.length != query.length) None
        else Some(cid -> (dot(query, c) / denom))
      }
      .sortBy { case (cid, cos) => (-cos, cid) }
      .take(nProbe).map(_._1)
    require(probed.nonEmpty, "no probeable cells (all centroids zero-norm?)")
    val cand = Similarity.assigned(corpus, idCol, vecCol, centroids)
      .filter(col("cell").isin(probed: _*))
      .select(col("id").as(idCol), col("__v").as(vecCol), col("cell"))
    val kept = excludeId.fold(cand)(x => cand.filter(col(idCol) =!= x))
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val k = cb(0).length
    val table = typedlit(adcTable(query, cb).toSeq)
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    kept
      .withColumn("codes",
        toColumn(graft.expressions.PqEncode(toExpression(col(vecCol)), cb)))
      .filter(col("codes").isNotNull)
      .withColumn("adist",
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, b) => b * k + c),
          lit(0.0),
          (acc, i) => acc + element_at(table, (i + 1).cast("int"))))
      .select(col(idCol), col("cell"), col("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(topK)
  }

  /** Approximate top-k by ADC: encode once (or reuse a persisted codes
    * table via `precomputedCodes`), then per row fold m table lookups —
    * the scan touches codes only, never the float vectors. Distances are
    * the exact L2² between the query and each vector's RECONSTRUCTION
    * (sum of its assigned centroids) — the standard PQ approximation.
    *
    * @return (idCol, adist) — top `topK` by (adist asc, id asc).
    */
  /** Two-stage PQ serving: ADC SHORTLIST then EXACT rerank — the
    * standard compressed-index query shape (FAISS's refine step). Stage
    * 1 is [[adcTopK]] over codes only (the cheap, compressed scan,
    * shortlist ≫ topK to absorb quantization error); stage 2 fetches
    * ONLY the shortlisted rows' float vectors via a broadcast semi-join
    * (`shortlist` ids — never a second full-corpus materialization;
    * the vector scan prunes to the joined rows) and re-scores them with
    * the exact squared L2, fixing any ADC-induced rank inversions
    * inside the shortlist. Cost at scale: one codes scan + `shortlist`
    * exact distances — the refine stage's interpreted fold runs on
    * `shortlist` rows, not the corpus.
    *
    * Exact distances are the direct left-to-right (q_i − v_i)² fold
    * from a 0.0 seed — the same portable form every oracle mirrors.
    *
    * @return (idCol, adist, dist) — top `topK` by (exact dist asc,
    *         id asc); `adist` retained so consumers can see the
    *         reranking delta.
    */
  def adcRerankTopK(vectors: DataFrame, idCol: String, vecCol: String,
                    query: Array[Float], codebooks: DataFrame,
                    shortlist: Int, topK: Int,
                    precomputedCodes: Option[DataFrame] = None): DataFrame = {
    require(topK > 0 && shortlist >= topK, "need shortlist >= topK > 0")
    val short = adcTopK(vectors, idCol, vecCol, query, codebooks,
      shortlist, precomputedCodes)
    val qlit = typedlit(query.toSeq)
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(short), Seq(idCol))
      .withColumn("dist",
        aggregate(
          zip_with(qlit, col(vecCol), (a, b) =>
            (a.cast("double") - b.cast("double")) *
              (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, d) => acc + d))
      .select(col(idCol), col("adist"), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(topK)
  }

  def adcTopK(vectors: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], codebooks: DataFrame, topK: Int,
              precomputedCodes: Option[DataFrame] = None): DataFrame = {
    require(topK > 0)
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val k = cb(0).length
    val table = typedlit(adcTable(query, cb).toSeq)
    val codes = precomputedCodes.getOrElse(encode(vectors, idCol, vecCol, codebooks))
    codes
      .filter(col("codes").isNotNull)
      .withColumn("adist",
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, b) => b * k + c),
          lit(0.0),
          (acc, i) => acc + element_at(table, (i + 1).cast("int"))))
      .select(col(idCol), col("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(topK)
  }
}
