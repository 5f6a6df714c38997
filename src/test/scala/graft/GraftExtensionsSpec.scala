package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The SQL function surface: every registered kernel must be callable
  * from spark.sql and agree with the Scala-API operators it mirrors.
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  test("graft_dot_f matches the Scala-API dot product") {
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT graft_dot_f(a, b) AS d FROM vecs")
      .head.getDouble(0)
    assert(sql === 32.0)
  }

  test("graft_simhash / graft_ngram_hash_set / intersect agree with operators") {
    Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"))
      .toDF("id", "text").createOrReplaceTempView("docs")
    val viaSql = spark.sql(
      """SELECT a.id AS i, b.id AS j,
        |  graft_intersect_count_sorted(graft_ngram_hash_set(a.text, 2),
        |                               graft_ngram_hash_set(b.text, 2)) AS common,
        |  graft_simhash(a.text) AS sig
        |FROM docs a JOIN docs b ON a.id < b.id""".stripMargin).head
    // bigrams: {the quick, quick brown, brown fox|cat} — 2 shared
    assert(viaSql.getLong(2) === 2L)
    val viaApi = Seq("the quick brown fox").toDF("text")
      .select(graft.operators.TextAnalysis.simHash($"text")).head.getLong(0)
    assert(viaSql.getLong(3) === viaApi)
  }

  test("graft_polyhash / graft_token_count / graft_ngram_hash_seq agree with operators") {
    Seq((1L, "the quick brown fox"), (2L, "emoji 😀 mix"))
      .toDF("id", "text").createOrReplaceTempView("tdocs")
    val viaSql = spark.sql(
      """SELECT id, graft_polyhash(text) AS ph, graft_token_count(text) AS tc,
        |       graft_ngram_hash_seq(text, 2) AS seq
        |FROM tdocs ORDER BY id""".stripMargin).collect()
    val viaApi = Seq((1L, "the quick brown fox"), (2L, "emoji 😀 mix"))
      .toDF("id", "text")
      .select($"id",
        graft.operators.TextAnalysis.polyHash($"text").as("ph"),
        graft.functions.tokenCountNative($"text").as("tc"),
        graft.functions.ngramHashSeq($"text", 2).as("seq"))
      .orderBy("id").collect()
    viaSql.zip(viaApi).foreach { case (s, a) =>
      assert(s.getLong(1) === a.getLong(1))
      assert(s.getLong(2) === a.getLong(2))
      assert(s.getSeq[Long](3) === a.getSeq[Long](3))
    }
  }

  test("graft_bottomk aggregates the k smallest distinct values") {
    Seq(5L, 1L, 9L, 1L, 3L, 7L).toDF("x").createOrReplaceTempView("xs")
    val got = spark.sql("SELECT graft_bottomk(x, 3) AS bk FROM xs")
      .head.getSeq[Long](0)
    assert(got === Seq(1L, 3L, 5L))
  }

  test("graft_bottomk_pairs aggregates the k smallest distinct (h, v) pairs") {
    Seq((3L, 30L), (1L, 10L), (1L, 10L), (1L, 5L), (2L, 20L))
      .toDF("h", "v").createOrReplaceTempView("hv")
    val got = spark.sql("SELECT graft_bottomk_pairs(h, v, 3) AS sk FROM hv")
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Seq((1L, 5L), (1L, 10L), (2L, 20L)))
  }

  test("graft_max_equal_run scans the max multiplicity of a sorted array") {
    val got = spark.sql(
      "SELECT graft_max_equal_run(array_sort(array(3L, 1L, 3L, 2L, 3L, 1L)))")
      .head.getLong(0)
    assert(got === 3L)
    assert(spark.sql(
      "SELECT graft_max_equal_run(CAST(array() AS ARRAY<BIGINT>))")
      .head.getLong(0) === 0L)
    // composes with the gram kernel into the SQL form of maxNgramRepeat
    Seq("p q r p q r p q").toDF("t").createOrReplaceTempView("docs_rep")
    val rep = spark.sql(
      """SELECT graft_max_equal_run(array_sort(graft_ngram_hash_seq(t, 2)))
        |FROM docs_rep""".stripMargin).head.getLong(0)
    assert(rep === 3L) // "p q" occurs 3x
  }

  test("curation functions agree with the Scala operators from pure SQL") {
    import graft.operators.{Sampling, TextAnalysis}
    Seq((1L, "mail x@y.io id 123456789 ip 10.0.0.1 and the rest of the words"))
      .toDF("id", "text").createOrReplaceTempView("cur")
    val sql = spark.sql(
      """SELECT graft_pii_redact(text) AS r, graft_quality_score(text) AS q,
        |       graft_hash_bucket(id, 100) AS b FROM cur""".stripMargin).head()
    assert(sql.getString(0) === "mail <EMAIL> id <DIGITS> ip <IP> and the rest of the words")
    val api = spark.table("cur").select(
      TextAnalysis.qualityScore(org.apache.spark.sql.functions.col("text")),
      Sampling.hashBucket(org.apache.spark.sql.functions.col("id"), 100)).head()
    assert(sql.getDouble(1) === api.getDouble(0))
    assert(sql.getLong(2) === api.getLong(1))
  }

  test("graft_pixel_stats / graft_pcm_stats agree with the Scala API from SQL") {
    import graft.queries.PixelFixtures
    Seq((0L, PixelFixtures.payload(0L)), (2L, PixelFixtures.payload(2L)),
      (7L, PixelFixtures.payload(7L)))
      .toDF("id", "p").createOrReplaceTempView("px_ext_spec")
    val viaSql = spark.sql(
      """SELECT id, graft_pixel_stats(p).lum_sum AS s,
        |  graft_pixel_stats(p).dhash AS d
        |FROM px_ext_spec ORDER BY id""".stripMargin).collect()
    val viaApi = spark.table("px_ext_spec")
      .select($"id", graft.functions.pixelStats($"p").getField("lum_sum"),
        graft.functions.pixelStats($"p").getField("dhash"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toString).toSeq === viaApi.map(_.toString).toSeq)
    assert(viaSql(2).isNullAt(1)) // %10==7 truncation quarantines
    // PCM: one spec-true 2-sample WAV through SQL
    val wav = Array[Int](
      'R', 'I', 'F', 'F', 40, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 1, 0,
      0x40, 0x1F, 0, 0, 0x80, 0x3E, 0, 0, 2, 0, 16, 0,
      'd', 'a', 't', 'a', 4, 0, 0, 0, 0xE8, 0x03, 0x18, 0xFC)
      .map(_.toByte)
    Seq((1L, wav)).toDF("id", "p").createOrReplaceTempView("pcm_ext_spec")
    val pcm = spark.sql(
      """SELECT graft_pcm_stats(p).sample_rate,
        |  graft_pcm_stats(p).n_samples, graft_pcm_stats(p).sum_q
        |FROM pcm_ext_spec""".stripMargin).collect()(0)
    assert((pcm.getLong(0), pcm.getLong(1), pcm.getLong(2)) ===
      ((8000L, 2L, 0L))) // samples +1000, -1000
  }

  test("literal-parameter misuse fails at analysis time") {
    Seq(1L).toDF("x").createOrReplaceTempView("one")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_bottomk(x, x) FROM one").collect()
    }
    assert(e.isInstanceOf[AnalysisException] ||
      e.getMessage.contains("INT literal"))
  }

  test("url and heavy-hitter functions agree with the Scala operators") {
    Seq("https://Blog.Example.CO.UK:443/p?id=1&utm_source=f#x")
      .toDF("url").createOrReplaceTempView("urls")
    val row = spark.sql(
      """SELECT graft_url_normalize(url) AS n, graft_url_host(graft_url_normalize(url)) AS h,
        |       graft_url_domain(graft_url_host(url)) AS d FROM urls""".stripMargin).head()
    assert(row.getString(0) === "https://blog.example.co.uk/p?id=1")
    assert(row.getString(1) === "blog.example.co.uk")
    assert(row.getString(2) === "example.co.uk")
    Seq("a", "a", "a", "b", "c").toDF("t").createOrReplaceTempView("mg_t")
    val mg = spark.sql("SELECT graft_mg_topk(t, 2) FROM mg_t")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(mg.head.getString(0) === "a" && mg.head.getLong(1) >= 2L)
  }

  test("graft_winnow_fps agrees with the Scala operator") {
    import org.apache.spark.sql.functions.col
    val docs = Seq("the quick brown fox jumps over the lazy dog and friends",
      "too short").toDF("text")
    docs.createOrReplaceTempView("wfp_t")
    val sql = spark.sql(
      "SELECT graft_winnow_fps(text, 2, 3) AS f FROM wfp_t").collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1))))
    val api = docs.select(
      graft.operators.Winnow.fingerprintArray(col("text"), 2, 3).as("f"))
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1))))
    assert(sql.toSeq === api.toSeq)
    assert(sql(0).nonEmpty)
  }

  test("graft_rendezvous_shard agrees with the Scala operator") {
    import org.apache.spark.sql.functions.col
    val keys = (1 to 50).map(i => s"k$i").toDF("k")
    keys.createOrReplaceTempView("hrw_t")
    val sql = spark.sql(
      "SELECT k, graft_rendezvous_shard(k, 8) AS s FROM hrw_t ORDER BY k")
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val api = keys.select(col("k"),
      graft.operators.Layout.rendezvousShard(col("k"), 8).as("s"))
      .orderBy("k").collect().map(r => r.getString(0) -> r.getInt(1))
    assert(sql === api)
    assert(sql.map(_._2).forall(s => s >= 0 && s < 8))
  }

  test("generation-eval kernels agree with the Scala operators from SQL") {
    Seq((1L, "the cat sat on the mat", "the cat is on the mat"))
      .toDF("id", "cand", "ref").createOrReplaceTempView("gdocs")
    val r = spark.sql(
      """SELECT
        |  graft_multiset_intersect_sorted(
        |    sort_array(split(cand, ' ')), sort_array(split(ref, ' '))) AS ov,
        |  graft_multiset_clip_max_ref(
        |    sort_array(split(cand, ' ')),
        |    array(sort_array(split(ref, ' ')),
        |          sort_array(array('sat', 'sat')))) AS clip,
        |  graft_lcs_token_length(split(cand, ' '), split(ref, ' ')) AS lcs,
        |  graft_chrf_gram_overlaps('abcab', 'abcb', 3) AS chrf
        |FROM gdocs""".stripMargin).head
    // unigram multiset: the(2) cat on mat shared, sat vs is not -> 5
    assert(r.getLong(0) === 5L)
    // clip vs two refs: 'sat' now credited once via ref2 -> 6
    assert(r.getLong(1) === 6L)
    // LCS: the cat _ on the mat -> 5
    assert(r.getLong(2) === 5L)
    // chrF orders over 'abcab' vs 'abcb': k=1 -> min-counts a2b2c1=4(of 5,4)
    val chrf = r.getSeq[org.apache.spark.sql.Row](3)
    assert(chrf.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getLong(3))) === Seq((1L, 5L, 4L, 4L), (2L, 4L, 3L, 2L),
      (3L, 3L, 2L, 1L)))
  }

  // ---------------------------------------------------------------- the
  // whole registry: one 3-row fixture (id 0 valid, 1 corrupt, 2 NULL) and
  // every graft_* function called from SQL and through its Scala builder

  private lazy val fx: DataFrame = {
    import graft.queries.{AudioFixtures, PixelFixtures, TarFixtures, VideoFixtures}
    def cut(b: Array[Byte]): Array[Byte] = b.take(b.length / 2)
    val png = PixelFixtures.pngGray(4L)
    val wav = AudioFixtures.dedupPayload(1L)
    val avi = VideoFixtures.avi(1L)
    // two MPEG-1 Layer III frames: 128 kbps, 44.1 kHz, stereo, 417 bytes
    val mp3 = Array.fill(2)(Array(0xFF, 0xFB, 0x90, 0x00).map(_.toByte) ++
      new Array[Byte](413)).flatten
    val tar = TarFixtures.tar(1L)
    val text = "hello hello hello raw deflate".getBytes("UTF-8")
    val dfl = {
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(text); d.finish()
      val buf = new Array[Byte](256)
      val n = d.deflate(buf); d.end()
      buf.take(n)
    }
    val jpg = PixelFixtures.jpegWithExif(3L)
    val valid = Row(0L, "the quick brown fox jumps over the quick dog",
      "the quick brown cat", "https://Blog.Example.CO.UK:443/p?id=1&utm_source=f#x",
      Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f),
      Seq(1L, 2L, 3L, 3L), Seq(2L, 3L, 5L),
      Seq("the", "cat", "sat", "the"), Seq("the", "cat", "the"),
      Seq(Seq("cat", "the"), Seq("sat")), 7L, 70L,
      png, wav, avi, mp3, tar, TarFixtures.gzip(tar), TarFixtures.zstd(tar),
      TarFixtures.zip(1L), jpg, dfl, text.length.toLong)
    val corrupt = Row(1L, "e\u0301\u00A0 \uD83D\uDE00\u0000\t x", "", "::not a url::",
      Seq(1.0f), Seq(1.0f, 2.0f), Seq(5L, 1L, 5L), Seq(1L, 5L),
      Seq("a", null), Seq(null, "a"), Seq(null, Seq("a")), 3L, 30L,
      cut(png), cut(wav), cut(avi), cut(mp3), cut(tar),
      cut(TarFixtures.gzip(tar)), cut(TarFixtures.zstd(tar)),
      cut(TarFixtures.zip(1L)), cut(jpg), Array[Byte](1, 2, 3), 5L)
    val nul = Row.fromSeq(2L +: Seq.fill(valid.length - 1)(null))
    def f(n: String, t: DataType) = StructField(n, t)
    val strs = ArrayType(StringType)
    val schema = StructType(Seq(f("id", LongType), f("s", StringType),
      f("r", StringType), f("url", StringType),
      f("fa", ArrayType(FloatType)), f("fb", ArrayType(FloatType)),
      f("la", ArrayType(LongType)), f("lb", ArrayType(LongType)),
      f("ta", strs), f("tb", strs), f("refs", ArrayType(strs)),
      f("h", LongType), f("v", LongType)) ++
      Seq("png", "wav", "avi", "mp3", "tar", "gz", "zst", "zip", "jpg", "dfl")
        .map(f(_, BinaryType)) :+ f("usize", LongType))
    // cached, so the optimizer cannot fold the projections over a local
    // relation and the generated code is what runs
    val df = spark.createDataFrame(
      java.util.Arrays.asList(valid, corrupt, nul), schema).cache()
    df.createOrReplaceTempView("fx")
    df
  }

  /** name → (SQL arguments over `fx`, the same call through the Scala
    * builder); covers all 40 registered functions.
    */
  private def registry: Seq[(String, String, Column)] = {
    import graft.expressions._
    import graft.functions._
    import graft.operators._
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    def c(n: String) = col(n)
    def e(n: String) = toExpression(col(n))
    Seq(
      ("graft_dot_f", "fa, fb", dotProductF(c("fa"), c("fb"))),
      ("graft_simhash", "s", TextAnalysis.simHash(c("s"))),
      ("graft_polyhash", "s", TextAnalysis.polyHash(c("s"))),
      ("graft_ngram_hash_set", "s, 2", toColumn(NgramHashSet(e("s"), 2))),
      ("graft_ngram_hash_seq", "s, 2", ngramHashSeq(c("s"), 2)),
      ("graft_token_count", "s", tokenCountNative(c("s"))),
      ("graft_intersect_count_sorted", "la, lb", intersectCountSorted(c("la"), c("lb"))),
      ("graft_max_equal_run", "la", toColumn(MaxEqualRunLongs(e("la")))),
      ("graft_bottomk", "h, 2", Sketch.bottomKHashes(c("h"), 2)),
      ("graft_bottomk_pairs", "h, v, 2",
        toColumn(BottomKLongPairs(e("h"), e("v"), 2).toAggregateExpression())),
      ("graft_pii_redact", "s", TextAnalysis.piiRedact(c("s"))),
      ("graft_quality_score", "s", TextAnalysis.qualityScore(c("s"))),
      ("graft_hash_bucket", "id, 10", Sampling.hashBucket(c("id"), 10)),
      ("graft_url_normalize", "url", UrlOps.normalizeUrl(c("url"))),
      ("graft_url_host", "url", UrlOps.host(c("url"))),
      ("graft_url_domain", "url", UrlOps.registrableDomain(c("url"))),
      ("graft_mg_topk", "s, 2", HeavyHitters.mgSummary(c("s"), 2)),
      ("graft_rendezvous_shard", "s, 4", Layout.rendezvousShard(c("s"), 4)),
      ("graft_winnow_fps", "s, 2, 3", Winnow.fingerprintArray(c("s"), 2, 3)),
      ("graft_nfc", "s", graft.functions.nfc(c("s"))),
      ("graft_canonical_text", "s", TextAnalysis.canonicalize(c("s"))),
      ("graft_multiset_intersect_sorted", "ta, tb", multisetIntersectSorted(c("ta"), c("tb"))),
      ("graft_multiset_clip_max_ref", "ta, refs", multisetClipMaxRef(c("ta"), c("refs"))),
      ("graft_lcs_token_length", "ta, tb", lcsTokenLength(c("ta"), c("tb"))),
      ("graft_chrf_gram_overlaps", "s, r, 3", chrfGramOverlaps(c("s"), c("r"), 3)),
      ("graft_media_header", "png", mediaHeader(c("png"))),
      ("graft_audio_header", "wav", audioHeader(c("wav"))),
      ("graft_pixel_stats", "png", pixelStats(c("png"))),
      ("graft_pcm_stats", "wav", pcmStats(c("wav"))),
      ("graft_audio_hash", "wav", audioHash(c("wav"))),
      ("graft_video_header", "avi", videoHeader(c("avi"))),
      ("graft_video_frame_stats", "avi, 1", videoFrameStats(c("avi"), 1)),
      ("graft_mp3_header", "mp3", mp3Header(c("mp3"))),
      ("graft_tar_members", "tar", tarMembers(c("tar"))),
      ("graft_gzip_decode", "gz", gzipDecode(c("gz"))),
      ("graft_zstd_decode", "zst", zstdDecode(c("zst"))),
      ("graft_media_strip", "jpg", mediaStrip(c("jpg"))),
      ("graft_zip_members", "zip", zipMembers(c("zip"))),
      ("graft_inflate_raw", "dfl, usize", inflateRaw(c("dfl"), c("usize"))),
      ("graft_pixel_resize", "png, 2, 2", pixelResize(c("png"), 2, 2)))
  }

  private val aggregates = Set("graft_bottomk", "graft_bottomk_pairs", "graft_mg_topk")

  private def scalars = registry.filterNot(r => aggregates(r._1))

  test("every registered function resolves from SQL and equals its Scala builder") {
    fx
    assert(registry.map(_._1).sorted ===
      GraftExtensions.functions.map(_._1.funcName).sorted)
    assert(registry.size === 40)
    val viaSql = spark.sql(scalars.map { case (n, a, _) => s"$n($a) AS $n" }
      .mkString("SELECT id, ", ", ", " FROM fx ORDER BY id")).collect()
    val viaApi = fx.select(col("id") +: scalars.map { case (n, _, b) => b.as(n) }: _*)
      .orderBy("id").collect()
    assert(viaSql.length === 3)
    scalars.zipWithIndex.foreach { case ((n, _, _), i) =>
      val (s, a) = (viaSql.map(r => Row(r.get(i + 1))), viaApi.map(r => Row(r.get(i + 1))))
      assert(s.toSeq === a.toSeq, n)
      assert(!viaSql(0).isNullAt(i + 1), s"$n is NULL on the valid row")
    }
    registry.filter(r => aggregates(r._1)).foreach { case (n, a, b) =>
      val s = spark.sql(s"SELECT $n($a) FROM fx").collect().toSeq
      assert(s === fx.agg(b).collect().toSeq, n)
      assert(!s.head.isNullAt(0), n)
    }
  }

  test("scalar functions give the same rows interpreted as generated") {
    fx
    def run(): Array[Row] =
      fx.select(col("id") +: scalars.map { case (n, _, b) => b.as(n) }: _*)
        .orderBy("id").collect()
    val generated = run()
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val interpreted =
      try {
        spark.conf.set(keys(0), "NO_CODEGEN")
        spark.conf.set(keys(1), "false")
        run()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    scalars.zipWithIndex.foreach { case ((n, _, _), i) =>
      assert(interpreted.map(r => Row(r.get(i + 1))).toSeq ===
        generated.map(r => Row(r.get(i + 1))).toSeq, n)
    }
  }

  test("a non-coercible argument fails analysis through SQL and the Column API") {
    fx
    for (q <- Seq("SELECT graft_media_header(CAST(id AS INT)) FROM fx",
      "SELECT graft_lcs_token_length(png, png) FROM fx"))
      intercept[AnalysisException](spark.sql(q).collect())
    intercept[AnalysisException](
      fx.select(graft.functions.mediaHeader(col("id").cast("int"))).collect())
    intercept[AnalysisException](
      fx.select(graft.functions.lcsTokenLength(col("png"), col("png"))).collect())
  }
}
