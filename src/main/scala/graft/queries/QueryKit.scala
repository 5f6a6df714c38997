package graft.queries

import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builders and oracle fragments shared by more than one query tier file.
  */
object QueryKit {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The doc-id spine for payload-EXPANSION queries (fixture
    * construct → kernel decode), spread across the session's default
    * parallelism BEFORE the expensive stage. Scan splits are
    * input-byte-proportional, and an id projection of the documents
    * table is sub-MB — one split — so without this the whole
    * construct+decode tier runs in ONE task on a 32-core machine
    * (measured: q360 wall ≈ its single-task CPU time). The exchange
    * moves 8-byte ids — the cheapest possible shuffle (guide §8:
    * distribute by the WORK, not the input layout). The partition
    * count is pinned to defaultParallelism (cores locally, cluster
    * width on a deployment — scale-adaptive, not a constant) because
    * AQE's size-based coalescing prices the 8-byte input rows, not
    * the ~100 KB/row expansion, and would re-serialize the stage.
    */
  private[queries] def spreadIds(docs: DataFrame): DataFrame =
    docs.select(col("doc_id")).repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** The documents' doc-id spine, unspread (see [[spreadIds]]). */
  private[queries] def docIds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))

  /** `(doc_id, __p)`: the fixture payload `f(id)` for each id of `ids`, a
    * one-column `doc_id` frame — [[docIds]], or [[spreadIds]] where the
    * construct-and-decode stage is worth an exchange.
    */
  private[queries] def payloads(ids: DataFrame,
                                f: Long => Array[Byte]): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.as[Long].mapPartitions(_.map(id => (id, f(id)))).toDF("doc_id", "__p")
  }

  private[queries] def queriesSubset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < 20)

  private[queries] def strideCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.strideCentroids(t(s, dir, "embeddings"), "vec_id", "embedding", 25)

  /** The q348/q371 SHARED composed graph health-check: datasheet
    * counts + assortativity + hub-removal resilience + 4-hop seed
    * reach off ONE edge table — the caller decides whether `edges` is
    * a CacheScope-tracked session build (q348) or the materialized
    * bucketed artifact (q371); everything downstream is identical, so
    * the two gates hash identically (they grade against one oracle
    * SQL string, oGraphPipelineSql).
    */
  private[queries] def graphHealthCheck(li: DataFrame, edges: DataFrame): DataFrame = {
      // ONE symmetrized degree table (cached) feeds the node count, the
      // assortativity endpoint-degree pairs AND the hub ranking — was
      // three independent derivations (a distinct-union node count,
      // Triangles.assortativity's internal dedup+degree pass, and this
      // degree aggregate), guide §2.4: share the exchange.
      // count, not count_distinct: `edges` is the coEngagementPairs
      // output (unique pairs, item_a < item_b), so the symmetrized
      // (node, nbr) rows are distinct by construction.
      val sym = edges.select(col("item_a").as("__u"), col("item_b").as("__v"))
        .union(edges.select(col("item_b").as("__u"), col("item_a").as("__v")))
      val deg = graft.operators.CacheScope.track(
        sym.groupBy(col("__u")).agg(count(lit(1)).as("__deg")))
      val counts = deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      // Assortativity inlined over the shared deg table: for this input
      // Triangles.assortativity's canonicalize+distinct is an identity
      // (unique a<b pairs, no self-loops) and its internal degree table
      // equals `deg` row-for-row, so corrByGroup sees identical rows.
      val dpairs = sym
        .join(deg.select(col("__u"), col("__deg").as("__du")), "__u")
        .join(deg.select(col("__u").as("__v"), col("__deg").as("__dv")), "__v")
        .withColumn("__g", lit(1))
      val assort = graft.operators.Regression.corrByGroup(dpairs, Seq("__g"),
        col("__du"), col("__dv")).select(col("corr").as("assortativity"))
      val hubs = deg.orderBy(desc("__deg"), col("__u")).limit(5)
        .select(col("__u").as("__hub"))
      val filtered = edges
        .join(broadcast(hubs), col("item_a") === col("__hub"), "left_anti")
        .join(broadcast(hubs), col("item_b") === col("__hub"), "left_anti")
      // Hub-incident edges — the exact complement of `filtered` in
      // `edges`. ONE full CC (on the filtered graph); the pre-removal
      // labeling is then recovered incrementally: edges = filtered ⊎
      // removed and min-label CC is associative over edge unions, so
      // CC(star(CC(filtered)) ∪ removed) = CC(edges) row-for-row
      // (incrementalComponents' documented identity; every ccAfter
      // component has ≥ 2 members, so no singleton drops out). The
      // second full fixpoint over the whole edge set becomes one pass
      // over the label table plus the hub-incident edges.
      val removed = edges.join(broadcast(hubs),
        col("item_a") === col("__hub") || col("item_b") === col("__hub"),
        "left_semi")
      val ccAfter = graft.operators.CacheScope.track(
        graft.operators.Components.connectedComponents(filtered,
          "item_a", "item_b"))
      val ccBefore = graft.operators.Components.incrementalComponents(
        ccAfter, removed, "item_a", "item_b")
      def giant(cc: DataFrame) = cc
        .groupBy("component").agg(count(lit(1)).as("__sz"))
        .agg(coalesce(max(col("__sz")), lit(0L)).as("g"))
      val before = giant(ccBefore).select(col("g").as("giant_size"))
      val after = giant(ccAfter).select(col("g").as("giant_after"))
      val items = li.select(col("l_partkey").as("item")).distinct()
      val seeds = items.filter(col("item") % 97 === 0)
      val hops = graft.operators.Components.boundedHops(edges, "item_a",
        "item_b", seeds, "item", maxHops = 4)
      val reach = hops.agg(count(lit(1)).as("n_reached"))
        .crossJoin(items.join(hops, col("item") === col("node"),
          "left_anti").agg(count(lit(1)).as("n_unreached")))
      counts.crossJoin(assort).crossJoin(before).crossJoin(after)
        .crossJoin(reach)
        .withColumn("density",
          when(col("n_nodes") > 1L,
            (lit(2L) * col("n_edges")).cast("double") /
              (col("n_nodes") * (col("n_nodes") - 1L)).cast("double")))
        .withColumn("giant_share",
          when(col("n_nodes") > 0L,
            col("giant_size").cast("double") /
              col("n_nodes").cast("double")))
        .withColumn("retained",
          when(col("giant_size") > 0L,
            col("giant_after").cast("double") /
              col("giant_size").cast("double")))
        .select("n_nodes", "n_edges", "density", "assortativity",
          "giant_size", "giant_share", "giant_after", "retained",
          "n_reached", "n_unreached")
        .orderBy("n_nodes")
  }

  /** q292's frozen subword vocab: full single-char coverage (a–z) so
    * alpha text never UNKs, plus multi-char units chosen to overlap on
    * this corpus's vocabulary ("t|ta|tab" prefixes, "scan" vs "s·can")
    * — the longest-match decision is exercised on nearly every word.
    */
  private[queries] val maxMatchVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ Seq(
      "th", "he", "ta", "le", "an", "ar", "rt", "ow", "the", "tab",
      "ble", "val", "lue", "row", "scan", "part", "hash", "sort",
      "win", "dow")

  /** q298's production-size vocab: 5k+ distinct fuzz units of length
    * 2–6 (seeded LCG — java.util.Random's algorithm is spec-fixed, so
    * the sequence is identical on every JVM) plus [[maxMatchVocab]]'s
    * overlapping multi-char units (so longest-wins decisions fire on
    * corpus words) plus DELIBERATELY PARTIAL single-char coverage
    * (vowels + high-frequency consonants only — corpus chars outside it
    * UNK wherever no multi-char unit spans them, exercising the UNK
    * walk at scale). Shared verbatim by the engine (staged as a
    * DataFrame) and the oracle (embedded as a list literal).
    */
  private[queries] val maxMatchVocab5k: Seq[String] = {
    val rng = new scala.util.Random(298L)
    val fuzz = Seq.fill(6200) {
      val len = 2 + rng.nextInt(5)
      (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    val singles = "aeilnorst".map(_.toString)
    val v = (fuzz ++ singles ++ maxMatchVocab.filter(_.length > 1))
      .distinct.sorted
    require(v.size >= 5000, s"fuzz vocab only ${v.size} units")
    v
  }

  /** q307's frozen unigram score table: [[maxMatchVocab5k]] with a
    * deterministic integer score per unit — length-favoring
    * (4096·len − 2048) plus bounded hash noise (String.hashCode is
    * spec-fixed, so the table is identical on every JVM). The scores
    * are driver literals shared VERBATIM by the engine (staged as a
    * DataFrame) and the oracle (embedded as a struct-list literal) —
    * a real unigram LM would ship fixed-point log-probs here; the DP
    * only requires integers.
    */
  private[queries] val viterbiScoredVocab: Seq[(String, Long)] =
    maxMatchVocab5k.map(u =>
      (u, 4096L * u.length - 2048L + ((u.hashCode % 64) + 64) % 64))

  /** q169/q170's shared eval set: q102's distilled linear model served
    * over the gate's features, score quantized to fixed point
    * (floor(z·2^20) — exact integer image of the double, keeps histogram
    * group keys integer), label = the gate's keep verdict.
    */
  private[queries] def distillScored(s: SparkSession, dir: String): DataFrame = {
    val gated = TextAnalysis.qualityGate(t(s, dir, "documents"),
      "doc_id", "text", keepInputCols = true)
    val feats = gated.select(
      col("doc_id"), col("lang"), col("keep"),
      TextAnalysis.tokenCount(col("text")).cast("double").as("f_tokens"),
      TextAnalysis.punctCount(col("text")).cast("double").as("f_punct"),
      coalesce(TextAnalysis.stopwordRatio(col("text")), lit(0.0)).as("f_stop"),
      TextAnalysis.qualityScore(col("text")).as("f_quality"))
    graft.operators.LinearModel.applyModel(feats,
      Seq("f_tokens", "f_punct", "f_stop", "f_quality"),
      graft.operators.LinearModel.Model(
        Array(0.10338513290120002, 0.0, 2.561121689531541,
          15.712607333411997), -10.389739811106871))
      .select(col("doc_id"), col("lang"), col("keep"),
        floor(col("z") * lit(1048576L)).cast("long").as("zq"))
  }

  // ------------------------------------------------------------ oracles

  /** Portable polynomial hash of a string expression (matches
    * TextAnalysis.polyHash).
    */
  private[queries] def oPolyHash(x: String): String = oPolyHashM(x, 31)

  /** [[oPolyHash]] with an explicit multiplier and fold seed (31/0 =
    * the standard hash; 37/1 = the wide simhash's second family —
    * TextAnalysis.WideMult/WideSeed: the nonzero seed decorrelates the
    * families on single-character tokens).
    */
  private def oPolyHashM(x: String, mult: Int, seed: Int = 0): String =
    s"""list_reduce(list_prepend(CAST($seed AS BIGINT),
       |  list_transform(string_split($x, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (a, c) -> (a * $mult + c) % 1000000007)""".stripMargin

  /** Whitespace tokens (matches graft.functions.tokens). */
  private[queries] val oToks =
    """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""

  /** q136/q145's shared fusion CTEs: dense cosine arm (top-10), lexical
    * distinct-token-overlap arm (top-10), full-outer RRF `fused` table
    * with the engine's fixed-fold score.
    */
  private[queries] def oRrfCtes: String =
    s"""$oNorms,
       |dsc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid, ${oCos("q", "c")} AS cos
       |  FROM norms q JOIN norms c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |dr AS (
       |  SELECT * FROM (
       |    SELECT qid, nid,
       |           CAST(row_number() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, nid) AS BIGINT) AS rank
       |    FROM dsc) WHERE rank <= 10),
       |qt AS (SELECT DISTINCT doc_id AS qid, unnest($oToks) AS t
       |       FROM documents WHERE doc_id < 20),
       |dt AS (SELECT DISTINCT doc_id AS nid, unnest($oToks) AS t
       |       FROM documents),
       |ov AS (
       |  SELECT qt.qid, dt.nid, CAST(count(*) AS BIGINT) AS overlap
       |  FROM qt JOIN dt ON qt.t = dt.t AND qt.qid <> dt.nid
       |  GROUP BY 1, 2),
       |lr AS (
       |  SELECT * FROM (
       |    SELECT qid, nid,
       |           CAST(row_number() OVER (PARTITION BY qid
       |             ORDER BY overlap DESC, nid) AS BIGINT) AS rank
       |    FROM ov) WHERE rank <= 10),
       |fused AS (
       |  SELECT coalesce(d.qid, l.qid) AS qid, coalesce(d.nid, l.nid) AS nid,
       |         d.rank AS r_dense, l.rank AS r_lex,
       |         0.0 + (CASE WHEN d.rank IS NOT NULL
       |                     THEN 1.0 / (60.0 + d.rank) ELSE 0.0 END)
       |             + (CASE WHEN l.rank IS NOT NULL
       |                     THEN 1.0 / (60.0 + l.rank) ELSE 0.0 END) AS score
       |  FROM dr d FULL OUTER JOIN lr l ON d.qid = l.qid AND d.nid = l.nid)""".stripMargin

  private[queries] def oBpeCtes(numMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH s0 AS (
              |  SELECT w, CAST(count(*) AS BIGINT) AS cnt, string_split(w, '') AS syms
              |  FROM (SELECT unnest($oToks) AS w FROM documents)
              |  GROUP BY w),
              |""".stripMargin
    for (s <- 1 to numMerges) {
      sb ++= s"""p$s AS (
                |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(cnt) AS BIGINT) AS freq
                |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                |          i -> [syms[i], syms[i+1]])) AS pr
                |        FROM s${s - 1})
                |  GROUP BY 1, 2),
                |b$s AS (SELECT l, r, freq FROM p$s ORDER BY freq DESC, l, r LIMIT 1),
                |s$s AS (
                |  SELECT w, cnt, list_reduce(list_transform(syms, x -> [x]),
                |    (acc, e) -> CASE WHEN acc[-1] = b.l AND e[1] = b.r
                |                     THEN list_append(acc[1:len(acc)-1], b.l || b.r)
                |                     ELSE list_append(acc, e[1]) END) AS syms
                |  FROM s${s - 1} CROSS JOIN b$s b),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop the last CTE's trailing ",\n"
    sb.result()
  }

  /** The q81 quality-gate verdict as a reusable CTE chain ending in
    * `verdict(doc_id, reasons)` — q84 re-runs the same gate in front of its
    * dedup stage.
    */
  private[queries] val oGateCtes =
    s"""m AS (
       |  SELECT doc_id, text, $oToks AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    i -> tk[i] || ' ' || tk[i+1])) AS b
       |  FROM m),
       |top AS (
       |  SELECT doc_id, max(c) AS top FROM (
       |    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |f AS (
       |  SELECT m.doc_id,
       |         CAST(len(tk) AS BIGINT) AS nt,
       |         (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
       |          + least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
       |          + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS DOUBLE)
       |                   / greatest(CAST(length(text) AS DOUBLE), 1.0))) / 3.0 AS q,
       |         CAST(len(string_split(text, chr(10))) AS BIGINT) AS nl,
       |         CAST(len(string_split(text, chr(10)))
       |              - len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS dl,
       |         CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS nb,
       |         CAST(coalesce(top.top, 0) AS BIGINT) AS tb,
       |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
       |              + len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS pii
       |  FROM m LEFT JOIN top ON top.doc_id = m.doc_id),
       |verdict AS (
       |  SELECT doc_id,
       |         CAST((CASE WHEN nt < 10 THEN 1 ELSE 0 END)
       |            + (CASE WHEN q < 0.5 THEN 2 ELSE 0 END)
       |            + (CASE WHEN dl * 5 > nl * 1 THEN 4 ELSE 0 END)
       |            + (CASE WHEN tb * 5 > nb * 1 THEN 8 ELSE 0 END)
       |            + (CASE WHEN pii > 3 THEN 16 ELSE 0 END) AS BIGINT) AS reasons
       |  FROM f)""".stripMargin

  /** q169/q170's eval-set CTEs: [[oGateCtes]] + q102's feature/score
    * text verbatim, ending in `scored(zq, keep)` — zq is the engine's
    * floor(z·2^20) fixed-point image, keep the gate verdict.
    */
  private[queries] val oDistillScoredCtes =
    s"""$oGateCtes,
       |fxm AS (
       |  SELECT doc_id,
       |         CAST(len(tk) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(tk,
       |           t -> list_contains(['the','a','an','of','to','and','in','is','on','for'], t))) AS BIGINT) AS n_stop,
       |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\f\\r]')) AS BIGINT) AS punct_cnt,
       |         text
       |  FROM m),
       |fx AS (
       |  SELECT doc_id,
       |         CAST(n_tokens AS DOUBLE) AS f_tokens,
       |         CAST(punct_cnt AS DOUBLE) AS f_punct,
       |         COALESCE(CASE WHEN n_tokens > 0
       |                       THEN CAST(n_stop AS DOUBLE) / n_tokens END,
       |                  CAST(0.0 AS DOUBLE)) AS f_stop,
       |         (least(CAST(length(text) AS DOUBLE) / CAST(500.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
       |          + least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
       |          + (CAST(1.0 AS DOUBLE) - CAST(punct_cnt AS DOUBLE)
       |                 / greatest(CAST(length(text) AS DOUBLE), CAST(1.0 AS DOUBLE)))) / CAST(3.0 AS DOUBLE) AS f_quality
       |  FROM fxm),
       |sx AS (
       |  SELECT doc_id,
       |         ((((CAST(0.0 AS DOUBLE)
       |             + (f_tokens * CAST(0.10338513290120002 AS DOUBLE)))
       |             + (f_punct * CAST(0.0 AS DOUBLE)))
       |             + (f_stop * CAST(2.561121689531541 AS DOUBLE)))
       |             + (f_quality * CAST(15.712607333411997 AS DOUBLE)))
       |           + CAST(-10.389739811106871 AS DOUBLE) AS z
       |  FROM fx),
       |scored AS (
       |  SELECT sx.doc_id,
       |         CAST(floor(z * CAST(1048576 AS DOUBLE)) AS BIGINT) AS zq,
       |         (v.reasons = 0) AS keep
       |  FROM sx JOIN verdict v USING (doc_id))""".stripMargin

  /** Exact n-gram Jaccard pairs ≥ threshold (ground truth for q23/q24). */
  /** Exact all-pairs n-gram-Jaccard CTE chain ending in
    * `jac(i, j, common, jaccard)` — shared by the q23 gate and the q97
    * recall harness.
    */
  private[queries] def oJaccardCtes(n: Int): String =
    s"""toks AS (
       |  SELECT doc_id, $oToks AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(tk) - ${n - 2}),
       |      i -> list_aggregate(tk[i:i+${n - 1}], 'string_agg', ' ')))) AS s
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i, j, CAST(c AS BIGINT) AS common,
       |         CAST(c AS DOUBLE) / CAST(si.n + sj.n - c AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes si ON si.doc_id = i
       |  JOIN sizes sj ON sj.doc_id = j)""".stripMargin

  /** Named simhash CTE with an explicit token-hash multiplier and fold
    * seed (matches TextAnalysis.simHashWith; 31/0 + 37/1 compose the
    * wide signature).
    */
  private[queries] def oSimhashCte(name: String, mult: Int, seed: Int = 0,
                          src: String = "documents"): String = {
    val bits = TextAnalysis.SimHashBits
    val mod = 1L << bits
    val zeros = ("CAST(0 AS BIGINT)" +: Seq.fill(bits - 1)("0")).mkString("[", ",", "]")
    s"""$name AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range($bits), j -> CASE WHEN v[j+1] > 0
       |        THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)),
       |      (a, b) -> a + b) AS sig
       |  FROM (
       |    SELECT doc_id, list_reduce(
       |      list_prepend($zeros,
       |        list_transform(hs, hv -> list_transform(range($bits),
       |          j -> CAST(floor(hv / pow(2, j)) AS BIGINT) % 2))),
       |      (acc, b) -> list_transform(range($bits), j -> acc[j+1] + 2*b[j+1] - 1)) AS v
       |    FROM (
       |      SELECT doc_id, list_transform($oToks,
       |        t -> ${oPolyHashM("t", mult, seed)} % $mod) AS hs
       |      FROM $src)))""".stripMargin
  }

  /** The wide (2×SimHashBits) signature CTEs over the text of `src`:
    * `sh31`, `sh37` and `wide(doc_id, sig)` — matches
    * Dedup.wideSignatures.
    */
  private[queries] def oWideSimhashCtes(src: String = "documents"): String =
    s"""${oSimhashCte("sh31", 31, src = src)},
       |${oSimhashCte("sh37", 37, seed = 1, src = src)},
       |wide AS (
       |  SELECT a.doc_id, a.sig + b.sig * ${1L << TextAnalysis.SimHashBits} AS sig
       |  FROM sh31 a JOIN sh37 b USING (doc_id))""".stripMargin

  /** `name(i, j)`: the doc pairs of `wide` within `maxHamming` bits. */
  private[queries] def oWidePairsCte(name: String, maxHamming: Int): String =
    s"""$name AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j
       |  FROM wide a JOIN wide b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming)""".stripMargin

  /** DOUBLE[] embeddings with norms (matches graft.functions fold order). */
  private[queries] val oNorms =
    """norms AS (
      |  SELECT vec_id, v,
      |         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)),
      |              (a, b) -> a + b)) AS nrm
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))""".stripMargin

  private[queries] def oCos(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(64),
       |  i -> $a.v[i+1] * $b.v[i+1])), (x, y) -> x + y) / ($a.nrm * $b.nrm)""".stripMargin

  /** IVF cell assignment: nearest of the 20 stride centroids. */
  private[queries] val oCells =
    s"""centroids AS (
       |  SELECT vec_id // 25 AS cid, v, nrm FROM norms WHERE vec_id % 25 = 0),
       |cells AS (
       |  SELECT vec_id AS id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${oCos("e", "c")} DESC, c.cid) AS rn
       |    FROM norms e CROSS JOIN centroids c)
       |  WHERE rn = 1)""".stripMargin

  /** The q348/q371 SHARED composed graph health-check oracle — the
    * bucketed-table query must hash IDENTICALLY to the cached-edge
    * one, so they grade against one SQL string.
    */
  /** Non-recursive connected-components CTE chain for the graph
    * oracles (round-16 oracle-budget work): the recursive
    * `r(node, comp) AS (… UNION SELECT e.v, r.comp …)` form
    * enumerates every (node, reachable-label) pair — O(|component|²)
    * rows with global dedup, 30–70 s per CC on the sf0.01
    * co-engagement graph, exactly the shape that can blow the
    * driver's per-oracle budget. This emits `rounds` unrolled
    * hook + pointer-jump min-label steps instead (each an edge-size
    * join + group-by, ~0.2 s per CC):
    *
    *   hook:  h_k(v) = min(p_{k-1}(v), min over edges (u,v) of
    *          p_{k-1}(u)) — one-hop label pull;
    *   jump:  p_k(v) = min(h_k(v), h_k(h_k(v))) — labels are node
    *          ids, so a label's own label is a valid (and provably
    *          smaller-or-equal) label; reach roughly doubles per
    *          round.
    *
    * Exactness is not asymptotic hand-waving: labels are stable under
    * one hook round iff every edge has equal labels on both ends
    * (edges are symmetric), i.e. labels are constant per component;
    * a node's label is always a node id of its own component and
    * min(component) only ever maps to itself — so stability implies
    * the exact min-label CC. The emitted `<prefix>chg` CTE runs one
    * EXTRA hook round and counts changed labels × 1,000,000; callers
    * add that poison to an output count, so a non-converged unroll
    * (cannot happen at ≤ 2^rounds-hop diameters, but the guard is
    * structural, not probabilistic) turns the row loudly red instead
    * of silently wrong. All emitted CTEs are MATERIALIZED — DuckDB
    * 1.0 inlines multi-referenced CTEs, and the chained rounds would
    * otherwise re-expand exponentially.
    *
    * Emits: `<prefix>p0 … <prefix>p<rounds>`, `<prefix>h*`,
    * `<prefix>lab(node, component)`, `<prefix>chg(poison)`.
    */
  private[queries] def oUnrolledCcCtes(prefix: String, nodesCte: String,
                              edgesCte: String, rounds: Int = 16): String = {
    val sb = new StringBuilder
    sb ++= s"${prefix}p0 AS MATERIALIZED (SELECT node, node AS lbl FROM $nodesCte)"
    def hook(name: String, prev: String): String =
      s""",
         |$name AS MATERIALIZED (
         |  SELECT n.node, least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
         |  FROM $prev n LEFT JOIN (
         |    SELECT e.u AS node, min(p.lbl) AS mn
         |    FROM $edgesCte e JOIN $prev p ON p.node = e.v
         |    GROUP BY 1) m ON m.node = n.node)""".stripMargin
    (1 to rounds).foreach { k =>
      sb ++= hook(s"${prefix}h$k", s"${prefix}p${k - 1}")
      sb ++=
        s""",
           |${prefix}p$k AS MATERIALIZED (
           |  SELECT a.node, least(a.lbl, b.lbl) AS lbl
           |  FROM ${prefix}h$k a JOIN ${prefix}h$k b ON b.node = a.lbl)""".stripMargin
    }
    val last = s"${prefix}p$rounds"
    sb ++= hook(s"${prefix}hx", last)
    sb ++=
      s""",
         |${prefix}lab AS MATERIALIZED (SELECT node, lbl AS component FROM $last),
         |${prefix}chg AS (
         |  SELECT CAST(1000000 * count(*) AS BIGINT) AS poison
         |  FROM $last a JOIN ${prefix}hx b ON b.node = a.node
         |  WHERE b.lbl <> a.lbl)""".stripMargin
    sb.toString
  }

  /** The lineitem actor/item co-engagement graph as oracle CTEs: `ai`
    * (order → part), `cap` (orders with ≤ 6 parts), `pairs(i, j)` (the
    * distinct part pairs sharing an order) and `sym(u, v)`, both
    * directions — the oracle side of Cooccur.coEngagementPairs with
    * maxDegree = 6.
    */
  private[queries] def oItemPairCtes(materialized: Boolean): String =
    s"""ai AS (
       |  SELECT DISTINCT l_orderkey AS actor, l_partkey AS item
       |  FROM lineitem),
       |deg0 AS (SELECT actor, count(*) AS dg FROM ai GROUP BY 1),
       |cap AS (SELECT ai.actor, ai.item
       |        FROM ai JOIN deg0 USING (actor) WHERE dg <= 6),
       |pairs AS (
       |  SELECT DISTINCT x.item AS i, y.item AS j
       |  FROM cap x JOIN cap y ON x.actor = y.actor AND x.item < y.item),
       |sym AS ${if (materialized) "MATERIALIZED " else ""}(SELECT i AS u, j AS v FROM pairs
       |        UNION ALL SELECT j, i FROM pairs)""".stripMargin

  private[queries] val oGraphPipelineSql: String =
      s"""WITH RECURSIVE ${oItemPairCtes(materialized = true)},
        |${oGraphDatasheetCtes("g1")},
        |hubs AS (SELECT u AS node FROM dg ORDER BY deg DESC, u LIMIT 5),
        |e2 AS MATERIALIZED (
        |  SELECT u, v FROM sym
        |  WHERE u NOT IN (SELECT node FROM hubs)
        |    AND v NOT IN (SELECT node FROM hubs)),
        |n2 AS (SELECT DISTINCT u AS node FROM e2),
        |${oUnrolledCcCtes("b", "n2", "e2")},
        |g2 AS (SELECT CAST(COALESCE(max(sz), 0) + (SELECT poison FROM bchg)
        |         AS BIGINT) AS giant_after
        |       FROM (SELECT component, count(*) AS sz FROM blab GROUP BY 1)),
        |items AS (SELECT DISTINCT l_partkey AS item FROM lineitem),
        |rb(node, d) AS (
        |  SELECT item, CAST(0 AS BIGINT) FROM items WHERE item % 97 = 0
        |  UNION
        |  SELECT e.v, r.d + 1 FROM rb r JOIN sym e ON e.u = r.node
        |  WHERE r.d < 4),
        |md AS (SELECT node, CAST(min(d) AS BIGINT) AS d
        |       FROM rb GROUP BY 1),
        |bfs AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM md) AS n_reached,
        |         (SELECT CAST(count(*) AS BIGINT) FROM items
        |          WHERE item NOT IN (SELECT node FROM md)) AS n_unreached)
        |SELECT cnts.n_nodes, cnts.n_edges,
        |       CASE WHEN cnts.n_nodes > 1
        |            THEN CAST(2 * cnts.n_edges AS DOUBLE) /
        |                 CAST(cnts.n_nodes * (cnts.n_nodes - 1) AS DOUBLE)
        |       END AS density,
        |       assort.assortativity, g1.giant_size,
        |       CASE WHEN cnts.n_nodes > 0
        |            THEN CAST(g1.giant_size AS DOUBLE) /
        |                 CAST(cnts.n_nodes AS DOUBLE) END AS giant_share,
        |       g2.giant_after,
        |       CASE WHEN g1.giant_size > 0
        |            THEN CAST(g2.giant_after AS DOUBLE) /
        |                 CAST(g1.giant_size AS DOUBLE) END AS retained,
        |       bfs.n_reached, bfs.n_unreached
        |FROM cnts, assort, g1, g2, bfs""".stripMargin

  private[queries] def oViterbiSql(vocab: Seq[(String, Long)], unkQ: Long): String = {
    val vlist = vocab.map { case (u, sc) => s"{'u': '$u', 'sc': $sc}" }
      .mkString("[", ",", "]")
    val maxLen = vocab.map(_._1.length).max
    s"""WITH RECURSIVE
       |vocab AS (SELECT x.u AS u, CAST(x.sc AS BIGINT) AS sc
       |          FROM (SELECT unnest($vlist) AS x)),
       |dwords AS (SELECT DISTINCT unnest($oToks) AS w FROM documents),
       |cand AS (
       |  SELECT w, u.pos AS pos, u.k AS k FROM (
       |    SELECT w, unnest(flatten(list_transform(range(1, length(w) + 1),
       |      p -> list_transform(range(1, least($maxLen, length(w) - p + 1) + 1),
       |        k -> {'pos': p, 'k': k})))) AS u
       |    FROM dwords)),
       |m AS (
       |  SELECT c.w, c.pos, c.k, v.sc
       |  FROM cand c JOIN vocab v ON v.u = substr(c.w, c.pos, c.k)),
       |ends AS (
       |  SELECT w, pos + k - 1 AS e,
       |         list({'k': k, 'sc': sc}) AS cands
       |  FROM m GROUP BY 1, 2),
       |walk(w, e, bests) AS (
       |  SELECT w, 0, [{'s': CAST(0 AS BIGINT), 'nt': CAST(0 AS BIGINT),
       |                 'nu': CAST(0 AS BIGINT)}]
       |  FROM dwords
       |  UNION ALL
       |  SELECT walk.w, walk.e + 1,
       |    list_append(walk.bests, list_reduce(
       |      list_prepend(
       |        {'s': walk.bests[walk.e + 1].s + ($unkQ),
       |         'nt': walk.bests[walk.e + 1].nt + 1,
       |         'nu': walk.bests[walk.e + 1].nu + 1},
       |        list_transform(coalesce(en.cands,
       |            CAST([] AS STRUCT(k BIGINT, sc BIGINT)[])), c ->
       |          {'s': walk.bests[walk.e + 2 - c.k].s + c.sc,
       |           'nt': walk.bests[walk.e + 2 - c.k].nt + 1,
       |           'nu': walk.bests[walk.e + 2 - c.k].nu})),
       |      (a, b) -> CASE WHEN b.s > a.s OR (b.s = a.s AND
       |        (b.nt < a.nt OR (b.nt = a.nt AND b.nu < a.nu)))
       |        THEN b ELSE a END))
       |  FROM walk LEFT JOIN ends en
       |    ON en.w = walk.w AND en.e = walk.e + 1
       |  WHERE walk.e < length(walk.w)),
       |seg AS (SELECT w, bests[length(w) + 1] AS b
       |        FROM walk WHERE e = length(w)),
       |tok AS (SELECT doc_id, unnest($oToks) AS w FROM documents),
       |agg AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(s.b.nt) AS BIGINT) AS n_tokens,
       |         CAST(sum(s.b.nu) AS BIGINT) AS n_unk_chars,
       |         CAST(sum(s.b.s) AS BIGINT) AS viterbi_score_q
       |  FROM tok t JOIN seg s USING (w) GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(a.n_unk_chars, 0) AS BIGINT) AS n_unk_chars,
       |       CAST(COALESCE(a.viterbi_score_q, 0) AS BIGINT)
       |         AS viterbi_score_q
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q298: candidate-slice explode + vocab equi-join + per-position
    * max(k) + the q292 recursive walk probing that table; the vocab
    * list literal and maxLen constant are generated from the SAME Seq
    * the engine stages as a DataFrame.
    */
  private[queries] def oMaxMatchJoinedSql(vocab: Seq[String]): String = {
    val vlist = vocab.map(u => "'" + u + "'").mkString("[", ",", "]")
    val maxLen = vocab.map(_.length).max
    s"""WITH RECURSIVE vocab AS (SELECT unnest($vlist) AS u),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM vocab),
       |dwords AS (SELECT DISTINCT unnest($oToks) AS w FROM documents),
       |cand AS (
       |  SELECT w, u.pos AS pos, u.k AS k FROM (
       |    SELECT w, unnest(flatten(list_transform(range(1, length(w) + 1),
       |      p -> list_transform(range(1, least($maxLen, length(w) - p + 1) + 1),
       |        k -> {'pos': p, 'k': k})))) AS u
       |    FROM dwords)),
       |best AS (
       |  SELECT c.w, c.pos, CAST(max(c.k) AS INTEGER) AS bl
       |  FROM cand c JOIN vocab v ON v.u = substr(c.w, c.pos, c.k)
       |  GROUP BY 1, 2),
       |walk(w, pos, ntok, nunk) AS (
       |  SELECT w, 1, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM dwords
       |  UNION ALL
       |  SELECT walk.w, walk.pos + coalesce(b.bl, 1), walk.ntok + 1,
       |         walk.nunk + CASE WHEN b.bl IS NULL THEN 1 ELSE 0 END
       |  FROM walk LEFT JOIN best b ON b.w = walk.w AND b.pos = walk.pos
       |  WHERE walk.pos <= length(walk.w)),
       |seg AS (SELECT w, ntok, nunk FROM walk WHERE pos > length(w)),
       |tok AS (SELECT doc_id, unnest($oToks) AS w FROM documents),
       |agg AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(s.ntok) AS BIGINT) AS n_tokens,
       |         CAST(sum(s.nunk) AS BIGINT) AS n_unk_chars
       |  FROM tok t JOIN seg s USING (w) GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(a.n_unk_chars, 0) AS BIGINT) AS n_unk_chars,
       |       CASE WHEN COALESCE(a.n_words, 0) > 0
       |            THEN CAST(a.n_tokens AS DOUBLE) /
       |                 CAST(a.n_words AS DOUBLE) END AS fertility,
       |       (SELECT n_vocab FROM nv) AS n_vocab
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Perceptual-hash oracle fragments (image dHash, audio envelope hash).
  // Each returns stripMargin'd SQL with no `|` margins, so a caller may
  // interpolate it into its own margin string.

  /** The dHash `cells` CTE: 9×8 grid averages of a `lum(keys…, x, y, w,
    * h, lum)` CTE, one image per `keys` value.
    */
  private def oDhashCells(keys: Seq[String]): String =
    s"""cells AS (
       |  SELECT ${keys.mkString(", ")}, (9 * x) // w AS cx, (8 * y) // h AS cy,
       |    sum(lum) // count(*) AS cavg
       |  FROM lum GROUP BY ${(1 to keys.size + 2).mkString(", ")})""".stripMargin

  /** The dHash `bits` CTE over `cells`: bit `bit` = cy·8 + cx is set
    * where the right neighbour cell is brighter.
    */
  private[queries] def oDhashBits(keys: Seq[String], bit: String): String = {
    val on = keys.map(k => s"a.$k = b.$k").mkString(" AND ")
    val neighbour =
      if (keys.size == 1) s"$on AND b.cy = a.cy AND b.cx = a.cx + 1"
      else s"$on AND b.cy = a.cy\n      AND b.cx = a.cx + 1"
    s"""bits AS (
       |  SELECT ${keys.map("a." + _).mkString(", ")}, a.cy * 8 + a.cx AS $bit
       |  FROM cells a JOIN cells b
       |    ON $neighbour
       |  WHERE a.cx < 8 AND b.cavg > a.cavg)""".stripMargin
  }

  /** [[oDhashCells]] then [[oDhashBits]]. */
  private[queries] def oDhashCtes(keys: Seq[String], bit: String): String =
    oDhashCells(keys) + ",\n" + oDhashBits(keys, bit)

  /** An unsigned 64-bit HUGEINT `raw` (NULL as 0) as a signed BIGINT
    * named `alias` — the engine's Long view of the same 64 bits. Written
    * for a select list indented four spaces.
    */
  private[queries] def oSignedHash(raw: String, alias: String): String =
    s"""CAST(coalesce($raw, 0)
       |      - CASE WHEN coalesce($raw, 0) >= 9223372036854775808
       |          THEN 18446744073709551616 ELSE 0 END AS BIGINT)
       |      AS $alias""".stripMargin

  /** `sig(doc_id, hash)`: the set `bit`s of `bits` folded into one signed
    * 64-bit hash per doc of `d` (docs without set bits hash to 0).
    */
  private[queries] def oSigCte(hash: String, bit: String): String =
    s"""sig AS (
       |  SELECT d.doc_id,
       |    ${oSignedHash("x.hraw", hash)}
       |  FROM d LEFT JOIN (
       |    SELECT doc_id, sum(CAST(1 AS HUGEINT) << CAST($bit AS INT))
       |      AS hraw
       |    FROM bits GROUP BY 1) x ON x.doc_id = d.doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // Connected-components oracle fragments: the recursive min-label flood
  // that is the sequential ground truth for the engine's CC.

  /** `edges` (the symmetrized `pairs(i, j)`), `reach` (every `id` of
    * `seeds` flooded along them) and `lab(id, component)`: the min id
    * reached is the component label.
    */
  private[queries] def oFloodCtes(id: String, seeds: String,
                                  groupBy: String = "node"): String =
    s"""edges AS (SELECT i AS u, j AS v FROM pairs
       |          UNION ALL SELECT j, i FROM pairs),
       |reach(node, comp) AS (
       |  SELECT $id, $id FROM $seeds
       |  UNION
       |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node),
       |lab AS (SELECT node AS $id, min(comp) AS component
       |        FROM reach GROUP BY $groupBy)""".stripMargin

  /** The flood over the pair nodes only: `symp` (the symmetrized
    * `p(i, j)`, joined by `union`), `pn`, `r` and `l(node, component)`.
    */
  private[queries] def oPairFloodCtes(union: String): String =
    s"""symp AS (SELECT i AS u, j AS v FROM p $union SELECT j, i FROM p),
       |pn AS (SELECT DISTINCT u AS node FROM symp),
       |r(node, comp) AS (
       |  SELECT node, node FROM pn
       |  UNION
       |  SELECT e.v, r.comp FROM r JOIN symp e ON e.u = r.node),
       |l AS (SELECT node, min(comp) AS component FROM r GROUP BY 1)""".stripMargin

  /** The graph datasheet CTEs over [[oItemPairCtes]]' `sym`: node and edge
    * counts `cnts`, degrees `dg`, degree assortativity `assort`, the
    * unrolled CC (prefix `a`) and the giant component size CTE `giant` (q281,
    * q348, q371).
    */
  private[queries] def oGraphDatasheetCtes(giant: String): String =
    s"""nodes AS (SELECT DISTINCT u AS node FROM sym),
       |cnts AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       |         (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges),
       |dg AS (SELECT u, CAST(count(DISTINCT v) AS BIGINT) AS deg
       |       FROM sym GROUP BY 1),
       |arows AS (
       |  SELECT du.deg AS x, dv.deg AS y
       |  FROM sym JOIN dg du ON du.u = sym.u
       |  JOIN dg dv ON dv.u = sym.v),
       |ast AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM arows),
       |assort AS (
       |  SELECT CASE WHEN n * sxx - sx * sx <> 0 AND
       |                   n * syy - sy * sy <> 0
       |              THEN CAST(n * sxy - sx * sy AS DOUBLE) /
       |                   sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
       |                        CAST(n * syy - sy * sy AS DOUBLE))
       |         END AS assortativity
       |  FROM ast),
       |${oUnrolledCcCtes("a", "nodes", "sym")},
       |$giant AS (
       |  SELECT CAST(COALESCE(max(sz), 0) + (SELECT poison FROM achg)
       |           AS BIGINT) AS giant_size
       |  FROM (SELECT component, count(*) AS sz FROM alab GROUP BY 1))""".stripMargin

  /** The q27 language-ID heuristic as oracle CTEs: per-doc stopword hits
    * `scores` and the argmax language `pred(lang, predicted)` (ties to the
    * earlier of en, de, es, fr; no hit is und) — matches
    * TextAnalysis.langId (q27, q159, q282).
    */
  private[queries] def oLangIdCtes: String =
    s"""scores AS (
       |  SELECT lang,
       |         CAST(len(list_filter($oToks, t -> list_contains(['the','and','of','to','in','is'], t))) AS BIGINT) AS s_en,
       |         CAST(len(list_filter($oToks, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS BIGINT) AS s_de,
       |         CAST(len(list_filter($oToks, t -> list_contains(['el','la','los','que','una','por'], t))) AS BIGINT) AS s_es,
       |         CAST(len(list_filter($oToks, t -> list_contains(['le','les','des','est','une','dans'], t))) AS BIGINT) AS s_fr
       |  FROM documents),
       |pred AS (
       |  SELECT lang,
       |         CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
       |              WHEN s_de > 0 AND s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
       |              WHEN s_es > 0 AND s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
       |              WHEN s_fr > 0 AND s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
       |              ELSE 'und' END AS predicted
       |  FROM scores)""".stripMargin

  /** The q109 funnel stages over `ev(user_id, ns, event_type)`: each
    * user's first view `s1`, the first click after it within a day `s2`,
    * and the first purchase after that click within a day of the view `s3`
    * (q109, q260).
    */
  private[queries] def oFunnelStageCtes: String =
    """s1 AS MATERIALIZED (
      |  SELECT user_id, min(ns) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS MATERIALIZED (
      |  SELECT e.user_id, s1.t1, min(e.ns) AS t2
      |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ns > s1.t1
      |    AND e.ns <= s1.t1 + 86400000000000
      |  GROUP BY 1, 2),
      |s3 AS MATERIALIZED (
      |  SELECT e.user_id, s2.t1, min(e.ns) AS t3
      |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ns > s2.t2
      |    AND e.ns <= s2.t1 + 86400000000000
      |  GROUP BY 1, 2)""".stripMargin

  /** The t-closeness grid over `s(lang, v)`: per-group value counts `gv`,
    * the global cumulative `glc`, group sizes `gs`, and `cc`, the per-group
    * cumulative count at every global value (q216, q230).
    */
  private[queries] def oTClosenessCtes: String =
    """gv AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS c
      |       FROM s GROUP BY 1, 2),
      |gl AS (SELECT v, CAST(count(*) AS BIGINT) AS cq FROM s GROUP BY 1),
      |glc AS (
      |  SELECT v, CAST(sum(cq) OVER (ORDER BY v) AS BIGINT) AS cumq,
      |         CAST(sum(cq) OVER () AS BIGINT) AS n,
      |         CAST(count(*) OVER () AS BIGINT) AS nv
      |  FROM gl),
      |gs AS (SELECT lang, CAST(count(*) AS BIGINT) AS group_size
      |       FROM s GROUP BY 1),
      |grid AS (
      |  SELECT gs.lang, gs.group_size, glc.v, glc.cumq, glc.n, glc.nv,
      |         CAST(coalesce(gv.c, 0) AS BIGINT) AS c
      |  FROM gs CROSS JOIN glc
      |  LEFT JOIN gv ON gv.lang = gs.lang AND gv.v = glc.v),
      |cc AS (
      |  SELECT lang, group_size, n, nv, cumq,
      |         CAST(sum(c) OVER (PARTITION BY lang ORDER BY v)
      |           AS BIGINT) AS cump
      |  FROM grid)""".stripMargin
}
