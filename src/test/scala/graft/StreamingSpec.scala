package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class LangDoc(doc_id: Long, ts: java.sql.Timestamp, lang: String, text: String)

case class MediaDoc(doc_id: Long, ts: java.sql.Timestamp, content: Array[Byte])

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedTypeCounts aggregates tumbling event-time windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.windowedTypeCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wtc").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "click", 2.0),
        Event(3, ts(2), 1, "error", 5.0),
        Event(4, ts(7), 1, "click", 3.0))
      query.processAllAvailable()
      val rows = spark.table("wtc")
        .select("window_start", "event_type", "cnt", "sum_value").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(
        (ts(0), "click", 2L, 3.0),
        (ts(0), "error", 1L, 5.0),
        (ts(5), "click", 1L, 3.0)))
    } finally query.stop()
  }

  test("userSessions closes sessions on the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.userSessions(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("sessions").start()
    try {
      // user 1: events at 10:00 and 10:02 (one session), then 10:20 (a new
      // session after >5 min of inactivity).
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(2), 1, "view", 1.0),
        Event(3, ts(20), 1, "click", 1.0))
      query.processAllAvailable()
      val sessions = spark.table("sessions")
        .filter($"user_id" === 1).orderBy("session_start").collect()
      assert(sessions.length === 2)
      assert(sessions(0).getAs[Long]("n_events") === 2)
      assert(sessions(1).getAs[Long]("n_events") === 1)
    } finally query.stop()
  }

  test("runningUserProfile keeps per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.runningUserProfile(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("profiles").start()
    try {
      input.addData(Event(1, ts(0), 7, "click", 2.0), Event(2, ts(1), 7, "error", 1.0))
      query.processAllAvailable()
      input.addData(Event(3, ts(2), 7, "click", 3.0))
      query.processAllAvailable()
      val last = spark.table("profiles").filter($"user_id" === 7)
        .orderBy(desc("n_events")).collect()(0)
      // State carried across batches: 3 events total, 1 error.
      assert(last.getAs[Long]("n_events") === 3)
      assert(math.abs(last.getAs[Double]("total_value") - 6.0) < 1e-12)
      assert(last.getAs[Long]("n_errors") === 1)
      assert(math.abs(last.getAs[Double]("error_rate") - 1.0 / 3) < 1e-12)
    } finally query.stop()
  }

  test("nearDupMatches mirrors batch wide-simhash semantics across micro-batches") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val texts = Map(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
      3L -> "completely unrelated words appear here entirely different",
      4L -> "the quick brown fox jumps over the lazy dog")  // exact dup, later batch
    val input = MemoryStream[Doc]
    val query = CorpusStreams.nearDupMatches(input.toDS(), maxHamming = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("ndm").start()
    try {
      input.addData(Doc(1L, ts(0), texts(1L)), Doc(2L, ts(1), texts(2L)),
        Doc(3L, ts(2), texts(3L)))
      query.processAllAvailable()
      input.addData(Doc(4L, ts(3), texts(4L)))
      query.processAllAvailable()
      val got = spark.table("ndm").as[(Long, Long, Long)].collect().toSet
      // ground truth: pairs within hamming<=3 on the wide signature
      // (banding has total recall there) — compute from the same kernel
      val sigs = texts.toSeq.toDF("doc_id", "text")
        .select($"doc_id", graft.operators.TextAnalysis.simHashWide($"text").as("sig"))
        .as[(Long, Long)].collect().toMap
      val expected = (for {
        i <- texts.keys; j <- texts.keys if i < j
        h = java.lang.Long.bitCount(sigs(i) ^ sigs(j)) if h <= 3
      } yield (i, j, h.toLong)).toSet
      assert(got === expected)
      assert(got.contains((1L, 2L, 0L)) && got.contains((1L, 4L, 0L)) &&
        got.contains((2L, 4L, 0L)))
      assert(!got.exists(m => m._1 == 3L || m._2 == 3L))
    } finally query.stop()
  }

  test("nearDupMatches equals batch simhashMatchesWide on a seeded random corpus") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    // Seeded generator (same rationale as KernelPropertySpec): base docs
    // from a small vocabulary plus 1-token-mutated variants, so the
    // corpus is dense in near-dups at assorted Hamming distances —
    // hand-picked fixtures only ever test the distances someone thought
    // of. All timestamps sit inside one watermark horizon, so the batch
    // operator over the same rows is the exact expected match set.
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (texts.length < 30) {
      val base = (0 until (8 + rnd.nextInt(6)))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts += base
      val nVariants = rnd.nextInt(3)
      for (_ <- 0 until nVariants if texts.length < 30) {
        val toks = base.split(" ")
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
        texts += toks.mkString(" ")
      }
    }
    val docs = texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, ts(i), t) }
    val expected = graft.operators.Dedup.simhashMatchesWide(
      texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "seeded corpus produced no near-dups — regenerate")
    val input = MemoryStream[Doc]
    val query = CorpusStreams.nearDupMatches(input.toDS(),
      maxHamming = 3, watermark = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("ndm_rand").start()
    try {
      // arrival in event-time order split across three micro-batches:
      // earlier doc_id always arrives first, so streaming (i, j) pair
      // orientation matches the batch i < j convention
      docs.grouped(11).foreach { chunk =>
        input.addData(chunk.toSeq); query.processAllAvailable()
      }
      val got = spark.table("ndm_rand").as[(Long, Long, Long)].collect().toSet
      assert(got === expected,
        s"stream/batch divergence: extra=${got -- expected} missing=${expected -- got}")
    } finally query.stop()
  }

  test("nearDupMatches survives a zero watermark horizon (anchor==watermark edge)") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    // With duration 0 the eviction anchor (newest retained entry) lands
    // exactly ON the watermark when a RE-DELIVERED doc_id touches the
    // bucket: a fresh doc would itself become the newest entry strictly
    // above the watermark, but a re-delivery skips registration, so the
    // state update runs while the newest entry sits at the previous
    // batch's event-time high. Spark 4.1.2 accepts timeout == watermark
    // (GroupStateImpl rejects strictly-earlier only) and the clamp keeps
    // that true even if the check ever tightens; this test drives the
    // edge and locks the deterministic zero-horizon semantics around it:
    // an entry older than the (zero-depth) horizon ages out, after which
    // a late re-delivery of the same doc_id re-registers it fresh.
    val dupText = "omega psi chi phi upsilon tau sigma rho"
    val input = MemoryStream[Doc]
    val query = CorpusStreams.nearDupMatches(input.toDS(),
      maxHamming = 3, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("ndm_zero").start()
    try {
      input.addData(Doc(1L, ts(0), dupText))
      query.processAllAvailable()
      // watermark propagation lags a batch (measured): ts(0) is the live
      // watermark in the SECOND data batch, where this re-delivery skips
      // registration and the bucket updates with anchor == watermark
      input.addData(Doc(1L, ts(1), dupText))
      query.processAllAvailable()
      // by now the ts(0) entry is beyond the zero-depth horizon: this
      // re-delivery finds the bucket aged out and re-registers at ts(2)
      input.addData(Doc(1L, ts(2), dupText))
      query.processAllAvailable()
      // the re-registered copy is the newest co-resident entry: a real
      // duplicate arriving inside the (1-batch-lagged) horizon matches it
      input.addData(Doc(2L, ts(3), dupText))
      query.processAllAvailable()
      val got = spark.table("ndm_zero").as[(Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 2L, 0L)),
        s"zero-horizon semantics changed: $got")
    } finally query.stop()
  }

  test("nearDupMatches forgets documents beyond the watermark horizon") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val input = MemoryStream[Doc]
    val query = CorpusStreams.nearDupMatches(input.toDS(),
      maxHamming = 3, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("ndm_evict").start()
    try {
      input.addData(Doc(1L, ts(0), dupText))
      query.processAllAvailable()
      // unrelated doc far in the future advances the watermark past doc 1
      input.addData(Doc(2L, ts(31), "unrelated filler advancing the watermark onward"))
      query.processAllAvailable()
      // exact dup of doc 1, but doc 1 is beyond the 10-min horizon now
      // (watermark = 10:31 - 10 min = 10:21 > 10:00) — no match emitted
      input.addData(Doc(3L, ts(32), dupText))
      query.processAllAvailable()
      val got = spark.table("ndm_evict").as[(Long, Long, Long)].collect().toSet
      assert(got === Set.empty[(Long, Long, Long)],
        s"evicted doc must not match: $got")
    } finally query.stop()
  }

  test("userSessions matches the oracle-verified q38 batch sessionization") {
    // Locks the streaming surface to the hash-verified batch semantics:
    // the same gap and second-truncation, over the real events table,
    // must yield the same session boundaries and aggregates as
    // q38_sessionize (whose gaps-and-islands oracle is hash-checked by
    // the driver) — including the exact-300s boundary merge behavior.
    val dir = "/root/testdata/sf0.001"
    val q38 = SparkEntry.queries("q38_sessionize")(spark, dir)
      .collect()
    val ev = graft.io.TableIO.eventsNanos(spark, dir)
      .select(col("user_id"), col("value"),
        timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))
    val sessions = EventStreams.userSessions(ev, gap = "5 minutes")
      .select(col("user_id"),
        unix_timestamp(col("session_start")).as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")
      .collect()
    assert(sessions.length === q38.length)
    sessions.zip(q38).foreach { case (s, o) =>
      assert(s.getAs[Long]("user_id") === o.getAs[Long]("user_id"))
      assert(s.getAs[Long]("session_start") === o.getAs[Long]("session_start"))
      assert(s.getAs[Long]("n_events") === o.getAs[Long]("n_events"))
      // q38 sums through DECIMAL(18,2) (oracle-exact); the streaming
      // surface uses the plain double sum — equal up to fp association.
      assert(math.abs(s.getAs[Double]("session_value") -
        o.getAs[Double]("session_value")) < 1e-6)
    }
  }

  test("dedupWithinWatermark drops re-delivered events, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.dedupWithinWatermark(input.toDF(), Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("deduped").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(0), 1, "click", 1.0), // same-batch duplicate
        Event(2, ts(1), 2, "view", 2.0))
      query.processAllAvailable()
      input.addData(Event(1, ts(2), 1, "click", 1.0)) // cross-batch redelivery
      query.processAllAvailable()
      val ids = spark.table("deduped").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L), s"got $ids")
    } finally query.stop()
  }

  test("the same windowed transform runs in BATCH mode (unified model)") {
    val batch = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(7), 1, "click", 2.0)).toDF()
    val out = EventStreams.windowedTypeCounts(batch)
      .orderBy("window_start").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("cnt")).toSeq === Seq(1L, 1L))
  }

  test("stateless curation chain (gate -> redact -> classify -> split) streams unchanged") {
    // Every stage is a pure projection, so the SAME transform function
    // applies to a stream — batch/stream outputs must match row-for-row.
    import graft.operators.{LinearModel, Sampling, TextAnalysis}
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    def curate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val gated = TextAnalysis.qualityGate(df, "doc_id", "text",
        keepInputCols = true)
        .withColumn("redacted", TextAnalysis.piiRedact(col("text")))
        .withColumn("f_tokens", TextAnalysis.tokenCount(col("text")).cast("double"))
        .withColumn("f_quality", TextAnalysis.qualityScore(col("text")))
      Sampling.hashSplit(
        LinearModel.applyModel(gated, Seq("f_tokens", "f_quality"),
          LinearModel.Model(Array(0.05, 2.0), -2.5)),
        "doc_id", trainPct = 80, valPct = 10)
        .select("doc_id", "keep", "redacted", "z", "predicted", "split")
    }
    val docs = Seq(
      Doc(1L, ts(0), "the quick brown fox jumps over the lazy dog and friends"),
      Doc(2L, ts(1), "short"),
      Doc(3L, ts(2), "mail someone@example.com about the 1234567890 invoice today"))
    val input = MemoryStream[Doc]
    val query = curate(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("curated").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("curated").orderBy("doc_id").collect().map(_.toSeq)
      val batch = curate(docs.toDF()).orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      assert(batch(2).contains("mail <EMAIL> about the <DIGITS> invoice today"))
    } finally query.stop()
  }

  test("blocklist scan streams statelessly (row-local variant)") {
    // blocklistStruct is a pure projection (literal term array + HOFs):
    // batch/stream match row-for-row, and the row-local counts agree
    // with the batch join form on every doc with hits.
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val terms = Seq("fox" -> "animal", "dog" -> "animal", "invoice" -> "fin")
    def scan(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.operators.TextAnalysis.blocklistStruct(col("text"), terms)
          .as("bl"))
        .select(col("doc_id"), col("bl.n_hits"), col("bl.n_terms"),
          col("bl.categories"))
    val docs = Seq(
      Doc(1L, ts(0), "the quick brown fox jumps over the lazy dog and dog"),
      Doc(2L, ts(1), "nothing flagged here"),
      Doc(3L, ts(2), "pay the invoice for the fox"))
    val input = MemoryStream[Doc]
    val query = scan(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("blscan").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("blscan").orderBy("doc_id").collect().map(_.toSeq)
      val batch = scan(docs.toDF()).orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      assert(batch(0) === Seq(1L, 3L, 2L, Seq("animal")))
      assert(batch(1) === Seq(2L, 0L, 0L, Seq()))
      assert(batch(2) === Seq(3L, 2L, 2L, Seq("animal", "fin")))
      // row-local counts agree with the batch JOIN form on hit docs
      val joined = graft.operators.TextAnalysis.blocklistHits(
        docs.toDF(), "doc_id", "text", terms).orderBy("doc_id")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("n_terms"), r.getAs[Seq[String]]("categories")))
      assert(joined.toSeq === Seq((1L, 3L, 2L, Seq("animal")),
        (3L, 2L, 2L, Seq("animal", "fin"))))
    } finally query.stop()
  }

  test("maxmatch token counts stream statelessly (row-local variant)") {
    // Bpe.maxMatchCounts is a pure projection (no distinct-word table),
    // so it joins the stateless curation chain: batch/stream outputs
    // match row-for-row, and the row-local counts agree with the batch
    // operator's distinct-word path on the same docs.
    import graft.operators.Bpe
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val vocab = Seq("a", "b", "o", "f", "x", "ab", "fo", "fox")
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        Bpe.maxMatchCounts(col("text"), vocab).as("mm"))
        .select(col("doc_id"), col("mm.n_words"), col("mm.n_tokens"),
          col("mm.n_unk_chars"))
    val docs = Seq(
      Doc(1L, ts(0), "fox ab abab"),
      Doc(2L, ts(1), "zzz fo"),
      Doc(3L, ts(2), ""))
    val input = MemoryStream[Doc]
    val query = counted(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("mmcounts").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("mmcounts").orderBy("doc_id").collect().map(_.toSeq)
      val batch = counted(docs.toDF()).orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      // row-local counts == batch operator's distinct-word path
      val op = Bpe.maxMatchTokenCount(docs.toDF(), "doc_id", "text", vocab)
        .orderBy("doc_id").collect()
        .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(batch.map(_.toSeq).toSeq === op.toSeq)
      // fox=1 token, ab=1, abab=2 -> doc1: 3 words, 4 tokens, 0 unk
      assert(batch(0) === Seq(1L, 3L, 4L, 0L))
      // zzz=3 UNK chars + fo=1 token -> doc2: 2 words, 4 tokens, 3 unk
      assert(batch(1) === Seq(2L, 2L, 4L, 3L))
    } finally query.stop()
  }

  test("rouge counts stream statelessly (row-local variant)") {
    // GenerationEval.rougeCounts is a pure projection: batch/stream
    // outputs match row-for-row, and the row-local clipped counts agree
    // with the batch operator's gram-aggregate path on the same pairs.
    import graft.operators.GenerationEval
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    // cand = text, ref = a deterministic suffix of it (overlap varies)
    def paired(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text").as("cand"),
        substring(col("text"), 5, 1000).as("ref"))
    def counted(df: org.apache.spark.sql.DataFrame) =
      paired(df).select(col("doc_id"),
        GenerationEval.rougeCounts(col("cand"), col("ref"), 2).as("rc"))
        .select(col("doc_id"), col("rc.n_cand_grams"),
          col("rc.n_ref_grams"), col("rc.overlap"))
    val docs = Seq(
      Doc(1L, ts(0), "the cat sat on the cat mat"),
      Doc(2L, ts(1), "aa aa aa aa aa"),
      Doc(3L, ts(2), ""))
    val input = MemoryStream[Doc]
    val query = counted(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("rougec").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("rougec").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = counted(docs.toDF()).orderBy("doc_id")
        .collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      // row-local counts == batch operator's gram-aggregate path
      val op = GenerationEval.rougeN(paired(docs.toDF()), "doc_id",
        "cand", "ref", 2).orderBy("doc_id").collect()
        .map(r => Seq(r.getLong(0), r.getAs[Long]("n_cand_grams"),
          r.getAs[Long]("n_ref_grams"), r.getAs[Long]("overlap")))
      assert(batch.map(_.toSeq).toSeq === op.toSeq)
    } finally query.stop()
  }

  test("chrF row-local headline streams statelessly, equals the batch operator") {
    // GenerationEval.chrFRow is a pure projection; per-order F2 and the
    // quantize-then-average headline must replay chrF's batch
    // kernel-projection path bit-for-bit.
    import graft.operators.GenerationEval
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    def paired(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text").as("cand"),
        substring(col("text"), 3, 1000).as("ref"))
    def scored(df: org.apache.spark.sql.DataFrame) =
      paired(df).select(col("doc_id"),
        GenerationEval.chrFRow(col("cand"), col("ref")).as("c"))
        .select(col("doc_id"), col("c.n_eff_orders").as("n_eff_orders"),
          col("c.chrf2_q20").as("chrf2_q20"))
    val docs = Seq(
      Doc(1L, ts(0), "the cat sat on the mat"),
      Doc(2L, ts(1), "ab"),    // short: only low orders effective
      Doc(3L, ts(2), ""),      // both sides empty after strip
      Doc(4L, ts(3), "same same same words here"))
    val input = MemoryStream[Doc]
    val query = scored(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("chrfrow").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("chrfrow").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = scored(docs.toDF()).orderBy("doc_id")
        .collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      // row-local headline == the batch operator's kernel projection
      val op = GenerationEval.chrF(paired(docs.toDF()), "doc_id",
        "cand", "ref").orderBy("doc_id").collect()
        .map(r => Seq(r.getLong(0), r.getAs[Long]("n_eff_orders"),
          if (r.isNullAt(r.fieldIndex("chrf2_q20"))) null
          else r.getAs[Long]("chrf2_q20")))
      assert(batch.map(_.toSeq).toSeq === op.toSeq)
      // the empty pair keeps its row with 0 effective orders, NULL score
      assert(batch.find(_.head == 3L).get(1) === 0L)
    } finally query.stop()
  }

  test("FIM render streams statelessly (map-only projection)") {
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    def rendered(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Fim.fimRender(df, "doc_id", "text")
    val docs = Seq(
      Doc(1L, ts(0), "a b c d e f g"),
      Doc(2L, ts(1), "one two"),   // under minTokens: autoregressive
      Doc(3L, ts(2), ""))
    val input = MemoryStream[Doc]
    val query = rendered(input.toDF().select("doc_id", "text")).writeStream
      .outputMode("append").format("memory").queryName("fimrow").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("fimrow").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = rendered(docs.toDF().select("doc_id", "text"))
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      // conservation holds on every streamed row
      spark.table("fimrow").collect().foreach { r =>
        assert(r.getAs[Long]("n_pre") + r.getAs[Long]("n_mid") +
          r.getAs[Long]("n_suf") === r.getAs[Long]("n_tokens"))
      }
    } finally query.stop()
  }

  test("frozen-merge BPE encode streams statelessly (reference-object kernel)") {
    // BpeEncode holds the merge table as reference objects, so the
    // frozen-model apply is a pure projection — the deployment shape:
    // train offline, ship the merge list, tokenize the stream.
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val lhs = Array("a", "ab", "c")
    val rhs = Array("b", "c", "d")
    def encoded(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.functions.bpeEncode(
          split(coalesce(col("text"), lit("")), ""), lhs, rhs).as("e"))
        .select(col("doc_id"), size(col("e")).as("n_syms"),
          array_join(col("e"), " ").as("seg"))
    val docs = Seq(
      Doc(1L, ts(0), "abcd"),  // (a,b)→ab, (ab,c)→abc; (c,d) blocked → [abc, d]
      Doc(2L, ts(1), "cdab"),  // (a,b) rank 0 fires first, then (c,d) → [cd, ab]
      Doc(3L, ts(2), "xyz"))   // no merges apply
    val input = MemoryStream[Doc]
    val query = encoded(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("bperow").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("bperow").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = encoded(docs.toDF()).orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      val segs = spark.table("bperow").orderBy("doc_id")
        .collect().map(_.getString(2))
      assert(segs(0) === "abc d")
      assert(segs(1) === "cd ab")
      assert(segs(2) === "x y z")
    } finally query.stop()
  }

  test("winnow fingerprints stream statelessly (row-local variant)") {
    // fingerprintArray is a pure projection, so winnowing joins the
    // stateless curation chain: batch/stream outputs match row-for-row.
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    def winnowed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.operators.Winnow.fingerprintArray(col("text"), n = 2, w = 3)
          .as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fp"),
          expr("aggregate(fps, 0L, (a, x) -> a ^ x.fp)").as("fp_xor"))
    val docs = Seq(
      Doc(1L, ts(0), "the quick brown fox jumps over the lazy dog and friends"),
      Doc(2L, ts(1), "short doc"),
      Doc(3L, ts(2), "the quick brown fox jumps over the lazy dog and friends"))
    val input = MemoryStream[Doc]
    val query = winnowed(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("winnowed").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("winnowed").orderBy("doc_id").collect().map(_.toSeq)
      val batch = winnowed(docs.toDF()).orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      assert(batch(0).drop(1) === batch(2).drop(1)) // same text → same fps
      assert(batch(1)(1) === 0)     // sub-(w+n−1)-token doc → none
    } finally query.stop()
  }

  test("intervalJoin: stream-stream attribution equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = Seq(
      Event(1, ts(0), 1, "imp", 0.0),
      Event(2, ts(2), 1, "imp", 0.0),
      Event(3, ts(0), 2, "imp", 0.0),
      Event(4, ts(30), 1, "imp", 0.0))
    val clicks = Seq(
      Event(101, ts(3), 1, "click", 1.0),   // joins imp 1 (3m) and 2 (1m)
      Event(102, ts(8), 1, "click", 1.0),   // joins imp 2 at 6m? NO — > 5m
      Event(103, ts(1), 2, "click", 1.0),   // joins imp 3
      Event(104, ts(31), 1, "click", 1.0))  // joins imp 4 only (late window)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "l_id", "r_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val expected = canon(EventStreams.intervalJoin(
      impressions.toDF(), clicks.toDF()))
    // sanity on the fixture itself: the >5m click matches nothing
    assert(expected === Seq((1L, 1L, 101L), (1L, 2L, 101L), (1L, 4L, 104L),
      (2L, 3L, 103L)))
    val li = MemoryStream[Event]
    val ri = MemoryStream[Event]
    val query = EventStreams.intervalJoin(li.toDF(), ri.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ij").start()
    try {
      // split across micro-batches so join state must buffer and evict
      li.addData(impressions.take(3): _*)
      ri.addData(clicks.take(2): _*)
      query.processAllAvailable()
      li.addData(impressions.drop(3): _*)
      ri.addData(clicks.drop(2): _*)
      query.processAllAvailable()
      assert(canon(spark.table("ij")) === expected)
    } finally query.stop()
  }

  test("windowedDistinctUsers: KMV state across micro-batches, exact below k") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.windowedDistinctUsers(input.toDF(),
      "10 minutes", "10 minutes", k = 8)
      .writeStream.outputMode("complete").format("memory")
      .queryName("wdu").start()
    try {
      // users 1,2,3 click in window 0 — user 2 twice, split across batches
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "click", 1.0))
      query.processAllAvailable()
      input.addData(
        Event(3, ts(2), 2, "click", 1.0), // re-observed user merges into state
        Event(4, ts(3), 3, "click", 1.0),
        Event(5, ts(12), 7, "view", 1.0)) // second window
      query.processAllAvailable()
      val rows = spark.table("wdu").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // below k the estimate is the exact distinct count
      assert(rows === Set(
        (ts(0), "click", 3L, 3.0),
        (ts(10), "view", 1L, 1.0)))
    } finally query.stop()
  }

  test("windowedMoments: split-batch moments equal the batch operator exactly") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 2, "click", 2.0),
      Event(3, ts(2), 3, "click", 3.0), // sym 1,2,3 -> skew 0, kurt -1.5
      Event(4, ts(3), 1, "view", 7.0),
      Event(5, ts(4), 2, "view", 7.0), // constant group -> NULL shape
      Event(6, ts(12), 1, "click", 4.0)) // second window
    val input = MemoryStream[Event]
    val query = EventStreams.windowedMoments(input.toDF(),
      col("value").cast("long"), "10 minutes", "10 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wmo").start()
    try {
      input.addData(events.take(2): _*)
      query.processAllAvailable()
      input.addData(events.drop(2): _*) // sums merge across micro-batches
      query.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4),
          if (r.isNullAt(5)) null else r.getDouble(5))
      }.toSet
      val got = canon(spark.table("wmo")
        .withColumn("g", concat_ws("|", date_format(col("window_start"), "mm"),
          col("event_type")))
        .select("g", "n", "mean", "variance", "skewness", "kurtosis"))
      // batch reference on the same rows, keyed (window-minute, type)
      val batch = graft.operators.Profiling.momentsByGroup(
        events.toDF().withColumn("g", concat_ws("|",
          date_format(window(col("ts"), "10 minutes")("start"), "mm"),
          col("event_type"))),
        Seq("g"), col("value").cast("long"))
      assert(got === canon(batch.select("g", "n", "mean", "variance",
        "skewness", "kurtosis")))
      // spot: the symmetric click window
      val sym = got.find(_._1 == "00|click").get
      assert(sym._2 === 3L && sym._3 === 2.0 && sym._5 === 0.0 &&
        math.abs(sym._6.asInstanceOf[Double] + 1.5) < 1e-12)
      assert(got.find(_._1 == "00|view").get._5 === null)
    } finally query.stop()
  }

  test("windowedLengthQuantiles: per-window sample equals batch sampledQuantiles") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val docs = (0 until 12).map(i =>
      LangDoc(i.toLong, ts(i % 8), if (i % 2 == 0) "en" else "de", "x" * (10 + i)))
    val input = MemoryStream[LangDoc]
    val query = CorpusStreams.windowedLengthQuantiles(input.toDF(),
      "lang", "text", "ts", k = 4, windowDur = "10 minutes",
      watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wlq").start()
    try {
      input.addData(docs.take(5): _*)
      query.processAllAvailable()
      input.addData(docs.drop(5): _*)
      query.processAllAvailable()
      val got = spark.table("wlq").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // batch reference: sampledQuantiles over the one window's slice,
      // keyed the same way (all docs fall in the 10:00 window)
      val batch = graft.operators.Sketch.sampledQuantiles(
        docs.toDF().withColumn("len", length($"text").cast("long")),
        "lang", "len", "doc_id", k = 4, Seq(("p50", 1, 2)))
        .collect()
        .map(r => (ts(0), r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === batch)
    } finally query.stop()
  }

  test("windowedMediaGate: per-window scorecard equals the batch gate") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    def hxb(s: String): Array[Byte] = {
      val c = s.replaceAll("\\s", "")
      Array.tabulate(c.length / 2)(i =>
        Integer.parseInt(c.substring(2 * i, 2 * i + 2), 16).toByte)
    }
    def png(w: Int, h: Int): Array[Byte] =
      hxb("89504E470D0A1A0A 0000000D 49484452") ++
        hxb(f"$w%08X$h%08X") ++ hxb("08 06 000000 00000000")
    val gif = hxb("474946383961 8000 8000 F7 00 00") // 128x128 gif
    val docs = Seq(
      MediaDoc(1, ts(0), png(100, 100)), // keep
      MediaDoc(2, ts(1), png(20, 100)), // too small
      MediaDoc(3, ts(2), gif), // format not allowed
      MediaDoc(4, ts(3), Array[Byte](1, 2, 3)), // unparseable
      MediaDoc(5, ts(12), png(100, 500)), // big but bad aspect (2nd win)
      MediaDoc(6, ts(13), png(64, 64))) // keep (2nd window)
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedMediaGate(input.toDF(), "content",
        "ts", windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wmg").start()
    try {
      input.addData(docs.take(3): _*) // split across micro-batches:
      query.processAllAvailable()     // counts must re-aggregate
      input.addData(docs.drop(3): _*)
      query.processAllAvailable()
      val got = spark.table("wmg").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      // batch reference: the SAME shared gateCounts over each window's
      // slice (the q336 batch shape)
      val expected = Seq(ts(0) -> docs.take(4), ts(10) -> docs.drop(4))
        .flatMap { case (w0, slice) =>
          val hdr = slice.toDF()
            .select(graft.operators.Multimodal.headerMeta($"content")
              .as("__h"))
          val cs = graft.operators.Multimodal.gateCounts(
            $"__h.format", $"__h.width", $"__h.height")
          hdr.groupBy(coalesce($"__h.format", lit("unparseable"))
              .as("format"))
            .agg(cs.head, cs.tail: _*)
            .collect().map(r => (w0, r.getString(0), r.getLong(1),
              r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        }.toSet
      assert(got === expected)
      // spot-pin the verdicts so a jointly-wrong gate cannot pass
      val w1 = got.filter(_._1 == ts(0)).map(t => t._2 -> t).toMap
      assert(w1("png") === ((ts(0), "png", 2L, 1L, 0L, 1L, 1L)))
      assert(w1("gif") === ((ts(0), "gif", 1L, 0L, 1L, 0L, 0L)))
      assert(w1("unparseable") === ((ts(0), "unparseable", 1L, 0L, 0L, 0L, 0L)))
    } finally query.stop()
  }

  test("windowedAudioGate: per-window scorecard equals the batch gate") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    def wav(tag: Int, rate: Int, samples: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
      val bps = if (tag == 1) 2 else 1
      out.write("RIFF".getBytes, 0, 4); le32(36 + samples.length * bps)
      out.write("WAVE".getBytes, 0, 4)
      out.write("fmt ".getBytes, 0, 4); le32(16)
      le16(tag); le16(1); le32(rate); le32(rate * bps); le16(bps)
      le16(if (tag == 1) 16 else 8)
      out.write("data".getBytes, 0, 4); le32(samples.length * bps)
      samples.foreach(s => if (tag == 1) le16(s & 0xFFFF) else out.write(s))
      out.toByteArray
    }
    val docs = Seq(
      // keep: pcm16 at 16kHz, loud, no clipping
      MediaDoc(1, ts(0), wav(1, 16000, Seq.fill(20)(5000))),
      // bad rate (8kHz)
      MediaDoc(2, ts(1), wav(1, 8000, Seq.fill(20)(5000))),
      // clipping: half the samples at the +rail
      MediaDoc(3, ts(2), wav(1, 16000,
        (0 until 20).map(i => if (i % 2 == 0) 32767 else -5000))),
      // too silent: 6 of 20 samples are edge silence (30% > 20%)
      MediaDoc(4, ts(3), wav(1, 16000,
        Seq.fill(3)(0) ++ Seq.fill(14)(5000) ++ Seq.fill(3)(0))),
      // unparseable
      MediaDoc(5, ts(4), Array[Byte](1, 2, 3)),
      // second window: a mu-law keep at 16kHz (codes near full swing,
      // never the rails)
      MediaDoc(6, ts(12), wav(7, 16000, (0 until 20).map(i => 0x90 + i))))
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedAudioGate(input.toDF(), "content",
        "ts", windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wag").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("wag").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getLong(8))).toSet
      // batch reference: the SAME shared audioGateCounts per window
      val expected = Seq(ts(0) -> docs.take(5), ts(10) -> docs.drop(5))
        .flatMap { case (w0, slice) =>
          val st = slice.toDF()
            .select(graft.functions.pcmStats($"content").as("__s"))
          val cs = graft.operators.Multimodal.audioGateCounts($"__s")
          st.groupBy(coalesce($"__s.codec", lit("unparseable"))
              .as("codec"))
            .agg(cs.head, cs.tail: _*)
            .collect().map(r => (w0, r.getString(0), r.getLong(1),
              r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
              r.getLong(6), r.getLong(7)))
        }.toSet
      assert(got === expected)
      // spot-pin the verdicts so a jointly-wrong gate cannot pass
      val w1 = got.filter(_._1 == ts(0)).map(t => t._2 -> t).toMap
      // pcm16 in window 1: 4 docs, 1 keep, 1 bad rate, 1 clipping,
      // 1 too-silent; keep duration = 20 frames / 16kHz = 1 ms
      assert(w1("pcm16") === ((ts(0), "pcm16", 4L, 4L, 1L, 1L, 1L, 1L, 1L)))
      assert(w1("unparseable") ===
        ((ts(0), "unparseable", 1L, 0L, 0L, 0L, 0L, 0L, 0L)))
      val w2 = got.filter(_._1 == ts(10)).map(t => t._2 -> t).toMap
      assert(w2("ulaw")._8 === 1L) // the mu-law doc is a keep
    } finally query.stop()
  }

  test("windowedVideoGate: per-window scorecard equals the batch gate") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VideoFixtures
    val docs = Seq(
      // window 1: two AVIs (fixture dims 12..27 × 8..19 — keep depends
      // on doc_id arithmetic), one MP4 keep (big dims, long duration),
      // one corrupt
      MediaDoc(1, ts(0), VideoFixtures.avi(4L)), // w=16 h=8 → h<10: drop
      MediaDoc(2, ts(1), VideoFixtures.avi(5L)), // w=17 h=11 F=9 dur=135: keep
      MediaDoc(3, ts(2), VideoFixtures.mp4(100L, 0, audioTrak = false)),
      MediaDoc(4, ts(3), Array[Byte](9, 9, 9)),
      // window 2: an MP4 through the v1 64-bit path
      MediaDoc(5, ts(12), VideoFixtures.mp4(200L, 1, audioTrak = true)))
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedVideoGate(input.toDF(), "content",
        "ts", windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wvg").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("wvg").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      // batch reference: the SAME shared videoGateCounts per window
      val expected = Seq(ts(0) -> docs.take(4), ts(10) -> docs.drop(4))
        .flatMap { case (w0, slice) =>
          val h = slice.toDF()
            .select(graft.operators.Multimodal.videoMeta($"content")
              .as("__h"))
          val cs = graft.operators.Multimodal.videoGateCounts($"__h")
          h.groupBy(coalesce($"__h.format", lit("unparseable"))
              .as("format"))
            .agg(cs.head, cs.tail: _*)
            .collect().map(r => (w0, r.getString(0), r.getLong(1),
              r.getLong(2), r.getLong(3), r.getLong(4)))
        }.toSet
      assert(got === expected)
      // spot-pin the verdicts so a jointly-wrong gate cannot pass
      val w1 = got.filter(_._1 == ts(0)).map(t => t._2 -> t).toMap
      // avi doc 1 drops (h=8 < 10), avi doc 2 keeps (dur 9·15=135 ms)
      assert(w1("avi") === ((ts(0), "avi", 2L, 2L, 1L, 135L)))
      // mp4(100): 102×702, ts=(100%29+1)·1000=14000, d=1100 → 78 ms < 100: drop
      assert(w1("mp4") === ((ts(0), "mp4", 1L, 1L, 0L, 0L)))
      assert(w1("unparseable") === ((ts(0), "unparseable", 1L, 0L, 0L, 0L)))
      // mp4(200) v1: 202×402, ts=27000, d=1200 → ⌊1200000/27000⌋=44 ms: drop
      val w2 = got.filter(_._1 == ts(10)).map(t => t._2 -> t).toMap
      assert(w2("mp4") === ((ts(10), "mp4", 1L, 1L, 0L, 0L)))
    } finally query.stop()
  }

  test("windowedShardGate: per-window scorecard equals the batch gate") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.TarFixtures
    val docs = Seq(
      // window 1: two shards (doc arithmetic: S=doc%4+2 samples, each
      // a .bmp + .txt pair) and one corrupt (%9==8 truncation)
      MediaDoc(1, ts(0), TarFixtures.tar(1L)), // 3 samples → 6 members
      MediaDoc(2, ts(1), TarFixtures.tar(2L)), // 4 samples → 8 members
      MediaDoc(3, ts(2), TarFixtures.payload(8L)), // truncated → NULL
      // window 2: one shard
      MediaDoc(4, ts(12), TarFixtures.tar(4L))) // 2 samples → 4 members
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedShardGate(input.toDF(), "content",
        "ts", windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wsg").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("wsg").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      // batch reference: the SAME shared shardGateCounts per window
      val expected = Seq(ts(0) -> docs.take(3), ts(10) -> docs.drop(3))
        .map { case (w0, slice) =>
          val m = slice.toDF()
            .select(graft.functions.tarMembers($"content").as("__m"))
          val cs = graft.operators.Multimodal.shardGateCounts($"__m")
          val r = m.agg(cs.head, cs.tail: _*).collect()(0)
          (w0, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))
        }.toSet
      assert(got === expected)
      // spot-pin so a jointly-wrong gate cannot pass: window 1 has 3
      // shards, 2 parseable, 14 members (7 images + 7 texts)
      val w1 = got.find(_._1 == ts(0)).get
      assert((w1._2, w1._3, w1._4, w1._5, w1._6) ===
        ((3L, 2L, 14L, 7L, 7L)))
      // member bytes: Σ sizes over both parseable shards' members
      val sizes = (0 until 3).flatMap { k =>
        Seq(graft.queries.PixelFixtures.bmp(4 * 1 + k).length.toLong,
          2L * TarFixtures.txtTokens(1L, k) - 1)
      } ++ (0 until 4).flatMap { k =>
        Seq(graft.queries.PixelFixtures.bmp(4 * 2 + k).length.toLong,
          2L * TarFixtures.txtTokens(2L, k) - 1)
      }
      assert(w1._7 === sizes.sum)
    } finally query.stop()
  }

  test("windowedSampleGate: per-sample counts equal the batch JOIN formulation") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.TarFixtures
    val docs = Seq(
      MediaDoc(1, ts(0), TarFixtures.tar(1L)), // 3 samples
      MediaDoc(2, ts(1), TarFixtures.tar(2L)), // 4 samples
      MediaDoc(3, ts(2), TarFixtures.payload(8L)), // truncated → 0 rows
      MediaDoc(4, ts(12), TarFixtures.tar(4L))) // 2 samples
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedSampleGate(input.toDF(), "content",
        "ts", windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wsp").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("wsp").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // batch reference computed through the OTHER formulation — the
      // q360-style img⋈txt JOIN — then the shared gate columns: the
      // parity locks array-pairing ≡ join-pairing AND batch ≡ stream
      val expected = Seq(ts(0) -> docs.take(3), ts(10) -> docs.drop(3))
        .map { case (w0, slice) =>
          val m = slice.toDF()
            .select($"doc_id", $"content",
              explode(graft.functions.tarMembers($"content")).as("__m"))
            .select($"doc_id", $"content", $"__m.name".as("name"),
              $"__m.offset".as("offset"), $"__m.size".as("size"))
            .withColumn("sample",
              regexp_extract($"name", "_(\\d+)\\.", 1).cast("long"))
          val imgs = m.filter($"name".endsWith(".bmp"))
            .select($"doc_id", $"sample",
              graft.functions.pixelStats(
                $"content".substr($"offset" + 1L, $"size"))
                .getField("width").as("width"))
          val txts = m.filter($"name".endsWith(".txt"))
            .select($"doc_id", $"sample",
              size(graft.functions.tokens(
                $"content".substr($"offset" + 1L, $"size")
                  .cast("string"))).cast("long").as("n_tokens"))
          val cs = graft.operators.Multimodal.sampleGateCounts(
            $"width", $"n_tokens")
          val r = imgs.join(txts, Seq("doc_id", "sample"))
            .agg(cs.head, cs.tail: _*).collect()(0)
          (w0, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }.toSet
      assert(got === expected)
      // spot-pin so a jointly-wrong gate cannot pass: window 1 carries
      // 7 samples from the two parseable shards (S = doc%4+2: 3 + 4);
      // widths are (4·doc+k)%24+9 ≥ 9 — keep depends on width ≥ 12 and
      // txt tokens (doc+k)%7+1 ≥ 3
      val w1 = got.find(_._1 == ts(0)).get
      assert(w1._2 === 7L)
      val kept = (for {
        (doc, s) <- Seq((1L, 3), (2L, 4)); k <- 0 until s
        w = (4 * doc + k) % 24 + 9
        tk = TarFixtures.txtTokens(doc, k)
      } yield (w >= 12 && tk >= 3)).count(identity)
      assert(w1._3 === kept.toLong)
    } finally query.stop()
  }

  test("windowedImageDedupGate: arrivals gate against the static corpus table") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.PixelFixtures
    // corpus = the signatures of images 0 and 2 (as yesterday's job
    // would have published them)
    val corpus = Seq(0L, 2L).map { s =>
      (s, graft.expressions.PixelKernel.decode(PixelFixtures.bmp(s))
        .dhash.get)
    }.toDF("img_id", "dhash")
    val docs = Seq(
      // window 1: a corpus dup (same pixels, different container — the
      // BMP of 0 re-shipped as its PNG twin has identical dHash only
      // if pixels match; use the same BMP bytes for exactness), a new
      // image, and an undecodable payload
      MediaDoc(1, ts(0), PixelFixtures.bmp(0L)),
      MediaDoc(2, ts(1), PixelFixtures.bmp(7L)),
      MediaDoc(3, ts(2), Array[Byte](1, 2, 3)),
      // window 2: another corpus dup via the GIF twin (byte-unequal
      // container, identical RGB pixels — the GIF palette arithmetic
      // is the BMP pixel arithmetic — so identical dHash)
      MediaDoc(4, ts(12), PixelFixtures.gif(2L)))
    // the GIF twin really does share pixels with the corpus BMP
    assert(graft.expressions.PixelKernel.decode(
      PixelFixtures.gif(2L)).dhash ===
      graft.expressions.PixelKernel.decode(PixelFixtures.bmp(2L)).dhash)
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedImageDedupGate(input.toDF(),
        "content", "ts", corpus, "dhash",
        windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("widg").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("widg").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === Set(
        (ts(0), 3L, 2L, 1L, 1L), // dup(img 0) + new(img 7) + undecodable
        (ts(10), 1L, 1L, 1L, 0L))) // the PNG re-ship of corpus img 2
    } finally query.stop()
  }

  test("windowedVideoDedupGate: re-muxed arrivals gate against the corpus frame-hash table") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VideoFixtures
    // corpus = first-frame dHashes of even MJPEG AVIs (yesterday's
    // q385 job published these)
    val corpus = Seq(0L, 2L, 6L).map { s =>
      (s, graft.expressions.VideoFrameKernel
        .decode(VideoFixtures.mjpegAvi(s), 1000).get.head.dhash.get)
    }.toDF("doc_id", "dhash")
    val docs = Seq(
      // window 1: doc 7 is the byte-unequal RE-MUX partner of corpus
      // doc 6 (same frame-0 JPEG behind different chunk ids + JUNK) —
      // the duplicate class only frame-pixel hashing catches; doc 4
      // is genuinely new; doc 9 is the truncated plant (undecodable)
      MediaDoc(1, ts(0), VideoFixtures.mjpegAvi(7L)),
      MediaDoc(2, ts(1), VideoFixtures.mjpegAvi(4L)),
      MediaDoc(3, ts(2), VideoFixtures.mjpegAvi(9L)),
      // window 2: an uncompressed-DIB re-ship of nothing in corpus —
      // new — plus corpus doc 0's own bytes (trivial dup)
      MediaDoc(4, ts(12), VideoFixtures.avi(11L)),
      MediaDoc(5, ts(13), VideoFixtures.mjpegAvi(0L)))
    assert(!VideoFixtures.mjpegAvi(7L).sameElements(VideoFixtures.mjpegAvi(6L)))
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedVideoDedupGate(input.toDF(),
        "content", "ts", corpus, "dhash",
        windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wvdg").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("wvdg").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === Set(
        (ts(0), 3L, 2L, 1L, 1L), // re-mux dup + new + undecodable
        (ts(10), 2L, 2L, 1L, 1L)))
    } finally query.stop()
  }

  test("windowedAudioDedupGate: a FLAC transcode of a corpus WAV is caught at the gate") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    // the corpus knows a clip only by the envelope hash of its WAV
    // form; the SAME samples arrive re-encoded as FLAC — byte-unequal,
    // different container family entirely — and must gate as a dup
    // because the shared View reconstructs identical linear samples
    def wav(rate: Int, samples: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
      out.write("RIFF".getBytes, 0, 4); le32(36 + samples.length * 2)
      out.write("WAVE".getBytes, 0, 4)
      out.write("fmt ".getBytes, 0, 4); le32(16)
      le16(1); le16(1); le32(rate); le32(rate * 2); le16(2); le16(16)
      out.write("data".getBytes, 0, 4); le32(samples.length * 2)
      samples.foreach(s => le16(s & 0xFFFF))
      out.toByteArray
    }
    // doc 4's fixture decodes to known samples (the q388 replay); its
    // WAV twin is what yesterday's corpus hashed
    val flac = graft.queries.AudioFixtures.flacPayload(4L)
    val dec = graft.expressions.FlacKernel.decode(flac)
    val wavTwin = wav(dec.rate.toInt, dec.samples.map(_.toInt).toSeq)
    assert(!flac.sameElements(wavTwin))
    val corpus = Seq(
      (10L, graft.expressions.PcmKernel.envelopeHash(wavTwin).longValue))
      .toDF("doc_id", "ahash")
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedAudioDedupGate(input.toDF(),
        "content", "ts", corpus, "ahash",
        windowDur = "10 minutes", watermark = "5 minutes",
        maxHamming = 2, maxOccupancy = 32)
      .writeStream.outputMode("complete").format("memory")
      .queryName("wadg_flac").start()
    try {
      input.addData(Seq(MediaDoc(1, ts(0), flac)): _*)
      query.processAllAvailable()
      val r = spark.table("wadg_flac").collect()(0)
      // one clip, hashed, corpus dup (the FLAC-vs-WAV transcode), not new
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
        ((1L, 1L, 1L, 0L)))
    } finally query.stop()
  }

  test("windowedAudioDedupGate: radius-2 banded lookups match the q375 batch semantics") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    def wav(samples: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
      out.write("RIFF".getBytes, 0, 4); le32(36 + samples.length * 2)
      out.write("WAVE".getBytes, 0, 4)
      out.write("fmt ".getBytes, 0, 4); le32(16)
      le16(1); le16(1); le32(16000); le32(32000); le16(2); le16(16)
      out.write("data".getBytes, 0, 4); le32(samples.length * 2)
      samples.foreach(s => le16(s & 0xFFFF))
      out.toByteArray
    }
    def hashOf(b: Array[Byte]): Long =
      graft.expressions.PcmKernel.envelopeHash(b).longValue
    // clip A: strictly increasing window energies (every envelope bit
    // set); its near-dup silences the LAST window — exactly one bit
    // flips, inside the gate's radius 2
    val n = 130
    val a = (0 until n).map(k => (if (k % 2 == 0) 1 else -1) * (100 + 10 * k))
    val aNear = a.take(128) ++ Seq(1, -1)
    // clip B and its byte-unequal volume-doubled re-encode: energies
    // are far apart, so scaling preserves every comparison → hash 0
    val bSamp = (0 until n).map(k => (1 + (k * 13) % 97) * ((k / 2) % 9 + 1))
    val b2 = bSamp.map(_ * 2)
    assert(hashOf(wav(bSamp)) === hashOf(wav(b2)))
    assert(!wav(bSamp).sameElements(wav(b2)))
    // a genuinely new clip: alternating loud/quiet windows, far from
    // both corpus hashes
    val nw = (0 until n).map(k => if ((k / 2) % 2 == 0) 30000 else 10)
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(hashOf(wav(a)), hashOf(wav(aNear))) <= 2)
    assert(ham(hashOf(wav(a)), hashOf(wav(nw))) > 2 &&
      ham(hashOf(wav(bSamp)), hashOf(wav(nw))) > 2)
    val corpus = Seq(10L -> hashOf(wav(a)), 11L -> hashOf(wav(bSamp)))
      .toDF("doc_id", "ahash")
    val docs = Seq(
      MediaDoc(1, ts(0), wav(a)), // exact corpus dup
      MediaDoc(2, ts(1), wav(aNear)), // radius-1 near-dup → dup
      MediaDoc(3, ts(2), wav(nw)), // new signature
      MediaDoc(4, ts(3), Array[Byte](1, 2, 3)), // undecodable
      MediaDoc(5, ts(12), wav(b2))) // window 2: transcode dup
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedAudioDedupGate(input.toDF(),
        "content", "ts", corpus, "ahash",
        windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wadg").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("wadg").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      // batch reference — the q375 semantics: a batch clip is a corpus
      // dup iff SOME corpus signature is within Hamming ≤ 2; nothing
      // saturates (2 corpus sigs, cap 32), so n_saturated is 0 and the
      // guarded gate's verdicts equal the unguarded batch semantics
      val sigs = Seq(hashOf(wav(a)), hashOf(wav(bSamp)))
      def dup(p: Array[Byte]): Option[Boolean] =
        Option(graft.expressions.PcmKernel.envelopeHash(p))
          .map(h => sigs.exists(s => ham(s, h.longValue) <= 2))
      val expected = Seq(ts(0) -> docs.take(4), ts(10) -> docs.drop(4))
        .map { case (w0, slice) =>
          val ds = slice.map(d => dup(d.content))
          (w0, slice.size.toLong, ds.count(_.isDefined).toLong,
            ds.count(_.contains(true)).toLong,
            ds.count(_.contains(false)).toLong, 0L)
        }.toSet
      assert(got === expected)
      assert(got === Set((ts(0), 4L, 3L, 2L, 1L, 0L), (ts(10), 1L, 1L, 1L, 0L, 0L)))
    } finally query.stop()
  }

  test("windowedAudioDedupGate: occupancy cap bounds flood buckets, exact recall survives, misses are loud") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    def wav(samples: Seq[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
      out.write("RIFF".getBytes, 0, 4); le32(36 + samples.length * 2)
      out.write("WAVE".getBytes, 0, 4)
      out.write("fmt ".getBytes, 0, 4); le32(16)
      le16(1); le16(1); le32(16000); le32(32000); le16(2); le16(16)
      out.write("data".getBytes, 0, 4); le32(samples.length * 2)
      samples.foreach(s => le16(s & 0xFFFF))
      out.toByteArray
    }
    def hashOf(b: Array[Byte]): Long =
      graft.expressions.PcmKernel.envelopeHash(b).longValue
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    def nib(s: Long, b: Int): Long = (s >>> (16 * b)) & 0xFFFFL
    val n = 130
    val a = (0 until n).map(k => (if (k % 2 == 0) 1 else -1) * (100 + 10 * k))
    val aNear = a.take(128) ++ Seq(1, -1)
    val nw = (0 until n).map(k => if ((k / 2) % 2 == 0) 30000 else 10)
    val hA = hashOf(wav(a))
    val hNear = hashOf(wav(aNear))
    val hNw = hashOf(wav(nw))
    assert(ham(hA, hNear) >= 1 && ham(hA, hNear) <= 2)
    // the flip lives in one band; flood sigs share hA's nibs in every
    // OTHER band — one pile saturates all of hA's agreeing buckets
    val bandFlip = (0 until 4).find(b => nib(hA, b) != nib(hNear, b)).get
    val ks = Seq(15L, 23L, 27L, 29L, 30L, 39L, 43L, 45L, 46L, 51L, 53L, 54L)
    val flood = ks.map(k => hA ^ (k << (16 * bandFlip)))
    // fixture sanity: floods are far from every stream hash (never a
    // legitimate near-dup), and enough of them sort below hA that the
    // rank-capped candidate list (4 smallest) crowds hA out everywhere
    assert(flood.forall(s => ham(s, hA) > 2 && ham(s, hNear) > 2 && ham(s, hNw) > 2))
    assert(flood.count(_ < hA) >= 4)
    // ...and the genuinely-new clip shares no flooded bucket with hA
    assert((0 until 4).filter(_ != bandFlip).forall(b => nib(hNw, b) != nib(hA, b)))
    val corpus = (Seq(hA) ++ flood).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "ahash")
    val docs = Seq(
      MediaDoc(1, ts(0), wav(a)), // exact dup — every bucket saturated
      MediaDoc(2, ts(1), wav(aNear)), // near-dup, target crowded out
      MediaDoc(3, ts(2), wav(nw))) // genuinely new, clear buckets
    val input = MemoryStream[MediaDoc]
    val query = CorpusStreams.windowedAudioDedupGate(input.toDF(),
        "content", "ts", corpus, "ahash",
        windowDur = "10 minutes", watermark = "5 minutes",
        maxHamming = 2, maxOccupancy = 4)
      .writeStream.outputMode("complete").format("memory")
      .queryName("wadg_flood").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("wadg_flood").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      // exact recall is UNCONDITIONAL (clip a caught through the
      // exact-membership join despite 13-deep buckets); the near-dup
      // is missed — its target is crowded out of every capped
      // candidate list — and the miss is LOUD: it is exactly the
      // n_saturated count; the new clip's verdict went through clear
      // buckets, so it is new-and-certain
      assert(got === Set((ts(0), 3L, 3L, 1L, 2L, 1L)))
    } finally query.stop()
    // raising the cap above the flood restores near recall — the miss
    // was the documented degradation, not a matching bug
    val input2 = MemoryStream[MediaDoc]
    val query2 = CorpusStreams.windowedAudioDedupGate(input2.toDF(),
        "content", "ts", corpus, "ahash",
        windowDur = "10 minutes", watermark = "5 minutes",
        maxHamming = 2, maxOccupancy = 64)
      .writeStream.outputMode("complete").format("memory")
      .queryName("wadg_flood2").start()
    try {
      input2.addData(docs: _*)
      query2.processAllAvailable()
      val got2 = spark.table("wadg_flood2").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(got2 === Set((3L, 3L, 2L, 1L, 0L)))
    } finally query2.stop()
  }

  test("windowedTokenCountMin: per-window sketch equals the batch countMinTable") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc(1, ts(0), "alpha beta alpha"),
      Doc(2, ts(3), "beta gamma"),
      Doc(3, ts(12), "alpha alpha"), // second window
      Doc(4, ts(14), "delta"))
    val input = MemoryStream[Doc]
    val query = CorpusStreams.windowedTokenCountMin(
      input.toDF(), "text", "ts", d = 3, w = 64,
      windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wcm").start()
    try {
      input.addData(docs.take(2): _*) // split across micro-batches:
      query.processAllAvailable()     // sketch counters must re-aggregate
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("wcm").collect()
        .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch reference: countMinTable over each window's slice of docs
      val expected = Seq(ts(0) -> docs.take(2), ts(10) -> docs.drop(2))
        .flatMap { case (w0, slice) =>
          val toks = slice.toDF()
            .select(explode(graft.operators.TextAnalysis.tokens($"text")).as("token"))
          graft.operators.Sketch.countMinTable(toks, "token", d = 3, w = 64)
            .collect().map(r => (w0, r.getInt(0), r.getLong(1), r.getLong(2)))
        }.toSet
      assert(got === expected)
    } finally query.stop()
  }

  test("windowedHeavyHitterCandidates: per-window superset guarantee across micro-batches") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    // window 1: "hot" holds 6 of 12 tokens (> n/(k+1) = 3 at k=3), split
    // across two micro-batches so partial summaries must merge;
    // window 2: a different dominant token
    val docs = Seq(
      Doc(1, ts(0), "hot hot hot cold warm mild"),
      Doc(2, ts(3), "hot hot hot cool damp dry"),
      Doc(3, ts(12), "ice ice ice ice fire"))
    val input = MemoryStream[Doc]
    val query = CorpusStreams.windowedHeavyHitterCandidates(
      input.toDF(), "text", "ts", k = 3,
      windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("whh").start()
    try {
      input.addData(docs.take(1): _*)
      query.processAllAvailable()
      input.addData(docs.drop(1): _*)
      query.processAllAvailable()
      val byStart = spark.table("whh").collect()
        .map(r => r.getTimestamp(0) -> ((r.getLong(1),
          r.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0)).toSet))).toMap
      assert(byStart(ts(0))._1 === 12L)
      assert(byStart(ts(0))._2.contains("hot"), "item above n/(k+1) must survive")
      assert(byStart(ts(0))._2.size <= 3)
      assert(byStart(ts(10)) === ((5L, byStart(ts(10))._2)))
      assert(byStart(ts(10))._2.contains("ice"))
    } finally query.stop()
  }

  test("incrementalIngest: table-backed dedup loop — cross-batch, exact-id, CC survivors") {
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.Doc
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ingest").toString
    val (sigDir, corpusDir, ckpt) =
      (s"$base/sigs", s"$base/corpus", s"$base/ckpt")
    val dup = "the quick brown fox jumps over the lazy dog"
    val uniq3 = "completely unrelated words appear here entirely different"
    val uniq5 = "another disjoint document carrying its own vocabulary tokens"
    val input = MemoryStream[Doc]
    val query = CorpusStreams.incrementalIngest(input.toDF(), sigDir,
      corpusDir, ckpt, maxHamming = 3)
    try {
      // batch 0: 1 and 2 are exact dups (keep min id 1), 3 unique
      input.addData(Doc(1L, ts(0), dup), Doc(2L, ts(1), dup), Doc(3L, ts(2), uniq3))
      query.processAllAvailable()
      val c0 = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().sorted
      assert(c0.toSeq === Seq(1L, 3L))
      // batch 1: 4 dups doc 1 ACROSS batches (matched via the signature
      // store, corpus never re-paired); 1 is an exact-id re-delivery
      // (dropped before pairing); 5 and 6 are intra-batch dups (keep 5)
      input.addData(Doc(4L, ts(3), dup), Doc(1L, ts(4), dup),
        Doc(5L, ts(5), uniq5), Doc(6L, ts(6), uniq5))
      query.processAllAvailable()
      val c1 = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().sorted
      assert(c1.toSeq === Seq(1L, 3L, 5L))
      // the signature store tracks exactly the survivors, with the same
      // wide signatures the batch operator computes
      val sigs = spark.read.parquet(sigDir).select("id", "sig")
        .as[(Long, Long)].collect().toMap
      val expected = Seq(1L -> dup, 3L -> uniq3, 5L -> uniq5).toDF("doc_id", "text")
        .select($"doc_id", graft.operators.TextAnalysis.simHashWide($"text").as("sig"))
        .as[(Long, Long)].collect().toMap
      assert(sigs === expected)
    } finally query.stop()
    // restart from the STORE alone (fresh checkpoint): re-deliveries and
    // near-dups of committed docs still drop — no stream state needed
    val input2 = MemoryStream[Doc]
    val query2 = CorpusStreams.incrementalIngest(input2.toDF(), sigDir,
      corpusDir, s"$base/ckpt2", maxHamming = 3)
    try {
      input2.addData(Doc(7L, ts(7), dup), Doc(3L, ts(8), uniq3),
        Doc(8L, ts(9), "yet another brand new never seen text body"))
      query2.processAllAvailable()
      val c2 = spark.read.parquet(corpusDir).select("doc_id").as[Long].collect().sorted
      assert(c2.toSeq === Seq(1L, 3L, 5L, 8L))
    } finally query2.stop()
  }

  test("windowedDriftVsReference: exact TVD per window, merged across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // reference mix click:view = 3:1 (W=4)
    val ref = Seq(("click", 3L), ("view", 1L))
    // window 1: 3 click + 1 view = exact match → TVD 0
    // window 2: 1 click + 2 view + 1 other →
    //   num = |1·4−3·4| + |2·4−1·4| + |1·4| = 8+4+4 = 16; TVD = 16/(2·4·4) = 0.5
    val events = Seq(
      Event(1, ts(0), 1, "click", 0), Event(2, ts(1), 1, "click", 0),
      Event(3, ts(2), 1, "click", 0), Event(4, ts(3), 1, "view", 0),
      Event(5, ts(11), 1, "click", 0), Event(6, ts(12), 1, "view", 0),
      Event(7, ts(13), 1, "view", 0), Event(8, ts(14), 1, "scroll", 0))
    val input = MemoryStream[Event]
    val query = EventStreams.windowedDriftVsReference(input.toDF(), ref,
      "10 minutes", "10 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wdr").start()
    try {
      input.addData(events.take(3): _*)
      query.processAllAvailable()
      input.addData(events.drop(3): _*) // counts merge across micro-batches
      query.processAllAvailable()
      val rows = spark.table("wdr")
        .select("window_start", "n", "n_click", "n_view", "n_other", "tvd")
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(rows === Set(
        (ts(0), 4L, 3L, 1L, 0L, 0.0),
        (ts(10), 4L, 1L, 2L, 1L, 0.5)))
      // batch parity: the same expression over the same rows
      val batch = EventStreams.windowedDriftVsReference(
        events.toDF(), ref, "10 minutes", "10 minutes")
        .select("window_start", "n", "n_click", "n_view", "n_other", "tvd")
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(batch === rows)
    } finally query.stop()
  }

  test("maintainedAgg: table-backed snapshot loop — merge ≡ recompute, retries idempotent") {
    import graft.streaming.CorpusStreams
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("magg").toString
    val (aggDir, ckpt) = (s"$base/agg", s"$base/ckpt")
    def latest(): Map[String, (Long, Long)] = {
      // plain read: partition inference types small commit ids as INT
      val all = spark.read.parquet(aggDir)
        .withColumn("commit", $"commit".cast("long"))
      val top = all.agg(org.apache.spark.sql.functions.max("commit")).head.getLong(0)
      all.filter($"commit" === top).collect()
        .map(r => r.getAs[String]("k") ->
          (r.getAs[Long]("n"), r.getAs[Long]("sv"))).toMap
    }
    val input = MemoryStream[(String, Long, Long)]
    val query = CorpusStreams.maintainedAgg(input.toDF()
      .toDF("k", "v", "sign"), aggDir, ckpt, Seq("k"), "sign",
      Seq("sv" -> "v"))
    try {
      // batch 0: pure inserts
      input.addData(("a", 10L, 1L), ("a", 20L, 1L), ("b", 5L, 1L))
      query.processAllAvailable()
      assert(latest() === Map("a" -> (2L, 30L), "b" -> (1L, 5L)))
      // batch 1: delete one 'a' row, drop 'b' to zero (group vanishes),
      // insert a new key
      input.addData(("a", 10L, -1L), ("b", 5L, -1L), ("c", 7L, 1L))
      query.processAllAvailable()
      assert(latest() === Map("a" -> (1L, 20L), "c" -> (1L, 7L)))
    } finally query.stop()
    // retry idempotency: re-running a batch id merges onto its
    // PREDECESSOR commit and overwrites its own partition — same result
    val replay = Seq(("a", 10L, -1L), ("b", 5L, -1L), ("c", 7L, 1L))
      .toDF("k", "v", "sign")
    CorpusStreams.maintainBatch(replay, 1L, aggDir, Seq("k"), "sign",
      Seq("sv" -> "v"))
    assert(latest() === Map("a" -> (1L, 20L), "c" -> (1L, 7L)))
    // time travel: commit 0's snapshot is still readable
    val c0 = spark.read.parquet(aggDir).filter($"commit" === 0L).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("sv")).toMap
    assert(c0 === Map("a" -> 30L, "b" -> 5L))
  }

  test("runningTransitions: cross-batch state, aggregated parity with batch matrix") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.runningTransitions(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("transitions").start()
    try {
      // user 1's a→b lands in batch 1; b→a SPANS the batch boundary
      input.addData(
        Event(1, ts(0), 1, "a", 0.0), Event(2, ts(1), 1, "b", 0.0),
        Event(3, ts(0), 2, "a", 0.0))
      query.processAllAvailable()
      input.addData(
        Event(4, ts(2), 1, "a", 0.0), Event(5, ts(3), 2, "b", 0.0))
      query.processAllAvailable()
      val got = spark.table("transitions")
        .groupBy("from_state", "to_state").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      // batch reference over the same rows
      val batch = graft.operators.EventAnalytics.transitionMatrix(
        Seq((1L, 0L, 1L, "a"), (2L, 1L, 1L, "b"), (3L, 0L, 2L, "a"),
          (4L, 2L, 1L, "a"), (5L, 3L, 2L, "b"))
          .toDF("event_id", "t", "user_id", "s"),
        "user_id", Seq(col("t"), col("event_id")), "s")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got === batch,
        "streamed pair counts must equal the batch transition counts")
      assert(got === Map(("a", "b") -> 2L, ("b", "a") -> 1L))
    } finally query.stop()
  }

  test("windowedRatioMismatch: per-window chi2 vs promised shares, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    // promised 50/50 click/view; window 1 matches exactly (chi2 0),
    // window 2 is 3:1 (+ an uncounted 'scroll')
    val exp = Seq(("click", 0.5), ("view", 0.5))
    val events = Seq(
      Event(1, ts(0), 1, "click", 0), Event(2, ts(1), 1, "view", 0),
      Event(3, ts(2), 1, "click", 0), Event(4, ts(3), 1, "view", 0),
      Event(5, ts(11), 1, "click", 0), Event(6, ts(12), 1, "click", 0),
      Event(7, ts(13), 1, "click", 0), Event(8, ts(14), 1, "view", 0),
      Event(9, ts(15), 1, "scroll", 0))
    val input = MemoryStream[Event]
    val query = EventStreams.windowedRatioMismatch(input.toDF(), exp,
      "10 minutes", "10 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wrm").start()
    try {
      input.addData(events.take(3): _*)
      query.processAllAvailable()
      input.addData(events.drop(3): _*)
      query.processAllAvailable()
      val rows = spark.table("wrm")
        .select("window_start", "n", "n_click", "n_view", "n_other",
          "chi2_fp")
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      // window 2: terms (3-2)^2/2 + (1-2)^2/2 = 1 -> 2^30
      assert(rows === Set(
        (ts(0), 4L, 2L, 2L, 0L, 0L),
        (ts(10), 4L, 3L, 1L, 1L, 1L << 30)))
      val batch = EventStreams.windowedRatioMismatch(events.toDF(), exp,
        "10 minutes", "10 minutes")
        .select("window_start", "n", "n_click", "n_view", "n_other",
          "chi2_fp")
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(batch === rows)
    } finally query.stop()
  }

  test("windowedRuleAudit: per-window rule counts, batch parity across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(
      ("nonneg:value" -> (col("value") < 0)),
      ("known:type" -> !col("event_type").isin("click", "view")))
    val input = MemoryStream[Event]
    val query = EventStreams.windowedRuleAudit(input.toDF(), rules,
      "10 minutes", "5 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("ruleaudit").start()
    try {
      // split the same window across two micro-batches: partial counts
      // must merge in the state store like sums
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 2, "bogus", -2.0))
      query.processAllAvailable()
      input.addData(
        Event(3, ts(2), 1, "view", 3.0),
        Event(4, ts(7), 1, "click", -1.0))
      query.processAllAvailable()
      val got = spark.table("ruleaudit")
        .select("window_start", "rule", "n_checked", "violations", "passed")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      assert(got === Map(
        (ts(0), "nonneg:value") -> ((3L, 1L, false)),
        (ts(0), "known:type") -> ((3L, 1L, false)),
        (ts(5), "nonneg:value") -> ((1L, 1L, false)),
        (ts(5), "known:type") -> ((1L, 0L, true))))
      // batch parity: Constraints.rowRules over the first window's rows
      val w0 = Seq((1.0, "click"), (-2.0, "bogus"), (3.0, "view"))
        .toDF("value", "event_type")
      val batch = graft.operators.Constraints.rowRules(w0, rules)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(batch("nonneg:value") === ((3L, 1L)))
      assert(batch("known:type") === ((3L, 1L)))
    } finally query.stop()
  }

  test("dsirScoreWith: frozen-weight scoring streams unchanged (append, no state)") {
    // Train on a reference corpus, freeze the bucket weights, then
    // score a stream row-locally — batch/stream outputs must match
    // row-for-row and equal the join-form dsirWeights on the same docs.
    import graft.streaming.CorpusStreams.Doc
    import graft.operators.Selection
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "the quick brown fox"), (2L, "the lazy dog"),
      (3L, "quick quick fox")).toDF("doc_id", "text")
    val w = Selection.dsirBucketWeights(ref, "text",
        col("doc_id") <= 2L, n = 2, buckets = 32)
      .orderBy("bucket").collect().map(_.getLong(3))
    def score(df: org.apache.spark.sql.DataFrame) =
      Selection.dsirScoreWith(df, "doc_id", "text", w, n = 2)
    val docs = Seq(
      Doc(10L, ts(0), "the quick brown fox jumps"),
      Doc(11L, ts(1), "unseen words entirely"),
      Doc(12L, ts(2), "solo"))
    val input = MemoryStream[Doc]
    val query = score(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("dsirscore").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("dsirscore").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = score(docs.toDF().select(col("doc_id"), col("text")))
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      // gramless doc: zero counts, NULL mean
      assert(batch(2)(1) === 0L && batch(2)(3) === null)
      // unseen bigrams score the smoothed prior, not zero
      assert(batch(1)(2).asInstanceOf[Long] > 0L)
    } finally query.stop()
  }

  test("frozen draft-table acceptance scores a stream (q305's apply shape)") {
    // speculative-decoding capacity read as traffic lands: the draft
    // table is static (trained once), each batch of docs scores via
    // the stream-static join + per-doc aggregate (update mode).
    import graft.streaming.CorpusStreams.Doc
    import graft.operators.NgramLm
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((100L, "the quick brown fox the quick red fox"),
      (101L, "the quick brown dog")).toDF("doc_id", "text")
    val table = NgramLm.draftTable(train, "text")
    val docs = Seq(
      Doc(1L, ts(0), "the quick brown fox"), // drafts mostly hit
      Doc(2L, ts(1), "completely novel words here"), // all miss
      Doc(3L, ts(2), "solo")) // no positions: no stream row
    val input = MemoryStream[Doc]
    val query = NgramLm.draftAcceptanceAgainst(input.toDF(), "doc_id",
        "text", table)
      .writeStream.outputMode("update").format("memory")
      .queryName("draftacc").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("draftacc").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batchAll = NgramLm.draftAcceptanceWith(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        "doc_id", "text", table)
      val batch = batchAll.filter($"n_positions" > 0L).orderBy("doc_id")
        .collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      assert(!streamed.exists(_.head === 3L))
      assert(batchAll.filter($"doc_id" === 3L).collect()(0)
        .getAs[Long]("n_positions") === 0L)
      val hit = streamed.find(_.head === 1L).get
      assert(hit(2).asInstanceOf[Long] > 0L) // some drafts accepted
      val miss = streamed.find(_.head === 2L).get
      assert(miss(2) === 0L && miss(3) === 0L)
    } finally query.stop()
  }

  test("media header decode streams statelessly (pure projection twin)") {
    // the ingest-time shape: payload bytes land on a stream, the
    // header gate reads format/dims per row with no state — batch
    // parity with Multimodal.headerFeatures on the same records.
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    def hx(s: String): Array[Byte] = {
      val c = s.replaceAll("\\s", "")
      Array.tabulate(c.length / 2)(i =>
        Integer.parseInt(c.substring(2 * i, 2 * i + 2), 16).toByte)
    }
    val recs = Seq(
      (1L, "png", hx("89504E470D0A1A0A 0000000D 49484452 00000001 00000001 08 06 000000 1F15C489")),
      (2L, "gif", hx("474946383961 0A00 1400 F7 00 00")),
      (3L, "junk", "not an image".getBytes("UTF-8")))
    val input = MemoryStream[(Long, String, Array[Byte])]
    val query = Multimodal.headerFeatures(
        input.toDF().toDF("doc_id", "kind", "content"),
        "doc_id", "kind", "content")
      .writeStream.outputMode("append").format("memory")
      .queryName("mediahdr").start()
    try {
      input.addData(recs: _*)
      query.processAllAvailable()
      val streamed = spark.table("mediahdr").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = Multimodal.headerFeatures(
          recs.toDF("doc_id", "kind", "content"),
          "doc_id", "kind", "content")
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed(0)(3) === "png" && streamed(1)(4) === 10L)
      assert(streamed(2)(3) == null)
    } finally query.stop()
  }

  test("byte-level frozen-merge token counts stream statelessly " +
    "(row-local twin == batch operator)") {
    import graft.streaming.CorpusStreams.Doc
    import graft.operators.Bpe
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((1L, "low low lower"), (2L, "low lowest"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesByteLevel(train, "text", numMerges = 3)
    val ms = Bpe.collectMergeList(merges, "step", "lhs", "rhs")
    val docs = Seq(Doc(10L, ts(0), "low lower than the lowest"),
      Doc(11L, ts(1), "entirely different words"),
      Doc(12L, ts(2), ""))
    val input = MemoryStream[Doc]
    val query = input.toDF().select($"doc_id",
        Bpe.byteLevelCounts($"text", ms).as("c"))
      .select($"doc_id", $"c.n_pretokens", $"c.n_bpe_tokens")
      .writeStream.outputMode("append").format("memory")
      .queryName("blcounts").start()
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("blcounts").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batch = Bpe.bpeRankTokenCountByteLevel(
          docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          "doc_id", "text", merges, "step", "lhs", "rhs")
        .select($"doc_id", $"n_pretokens", $"n_bpe_tokens")
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.exists(r => r(2).asInstanceOf[Long] > 0L))
    } finally query.stop()
  }

  test("frozen-LM familiarity scores a stream against the static gram " +
    "model (q331's apply shape)") {
    // CCNet deployment: the gram model trains ONCE on the reference
    // corpus (batch, static), then each crawl batch scores as it lands —
    // familiarityAgainst is gram explode → stream-static LEFT join →
    // per-doc aggregate (update mode). Batch parity: identical rows to
    // familiarityWith for every doc that HAS grams (the stream shape
    // cannot left-join its own spine; sub-n-token docs emit nothing).
    import graft.streaming.CorpusStreams.Doc
    import graft.operators.NgramLm
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (102L, "the quick red fox sleeps"),
      (104L, "a lazy dog naps the quick way")).toDF("doc_id", "text")
    val model = NgramLm.gramModel(ref, "text", n = 2)
    val docs = Seq(
      Doc(1L, ts(0), "the quick brown fox naps"), // mixed known/unknown
      Doc(3L, ts(1), "entirely novel phrasing here"), // all-OOV
      Doc(5L, ts(2), "solo"), // < n tokens: no grams, no stream row
      Doc(7L, ts(3), "the quick the quick")) // repeated known grams
    val input = MemoryStream[Doc]
    val query = NgramLm.familiarityAgainst(input.toDF(), "doc_id", "text",
        model, "model_freq", n = 2)
      .writeStream.outputMode("update").format("memory")
      .queryName("famstream").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("famstream").orderBy("doc_id")
        .collect().map(_.toSeq)
      val batchAll = NgramLm.familiarityWith(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        "doc_id", "text", ref, "text", n = 2)
      val batch = batchAll.filter($"n_grams" > 0L).orderBy("doc_id")
        .collect().map(_.toSeq)
      assert(streamed.toSeq === batch.toSeq)
      // the gramless doc is exactly the one absent from the stream
      assert(!streamed.exists(_.head === 5L))
      assert(batchAll.filter($"doc_id" === 5L).collect()(0)
        .getAs[Long]("n_grams") === 0L)
      // all-OOV doc: counted grams, zero familiarity signal
      val oov = streamed.find(_.head === 3L).get
      assert(oov(1) === 3L && oov(2) === 0L && oov(3) === 0L)
    } finally query.stop()
  }
}
