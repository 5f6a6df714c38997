package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus partition-batched
  * decode/feature-extract.
  *
  * The Spark-side shape is the real thing — binary column + metadata
  * struct, per-partition batched processing via `mapPartitions` over a
  * typed Dataset (the Scala analogue of mapInPandas: one iterator per
  * partition, records streamed, no per-row task overhead). HEADER-level
  * decode is REAL as of round 13 ([[headerMeta]]: PNG/GIF/JPEG/WebP/BMP
  * dimensions+depth; [[audioMeta]]: WAV/FLAC rate/channels/bits — pure
  * byte arithmetic, no codec jars), PIXEL decode is REAL as of
  * round 14 ([[decodeImage]]: PNG, BMP, and GIF-incl.-LZW through the
  * codec-free native [[graft.expressions.PixelKernel]]; JPEG through
  * the JDK's own ImageIO plugin), and — late round 14 — so are image
  * RESIZE ([[resizeImage]]: box-filter downscale on the decoded
  * pixels) and video FRAME SAMPLING ([[sampleFrames]]:
  * uncompressed-DIB AVI frames through
  * [[graft.expressions.VideoFrameKernel]]). NO stubs remain: the one
  * non-decode path left is [[byteHistogram]], the deterministic
  * fallback FEATURE for payloads that are not decodable media at all
  * (text bytes carried through the media pipeline).
  *
  * Scale notes: payload bytes stay in the `content` column and are never
  * collected; feature extraction is a narrow per-partition pass, so the
  * operator scales with input splits like any scan→project pipeline. Keep
  * `spark.sql.files.maxPartitionBytes` sized so a partition of payloads
  * fits executor memory.
  */
object Multimodal {

  /** One media record as carried through the pipeline. */
  case class MediaRecord(doc_id: Long, kind: String, content: Array[Byte])

  /** Extracted features: fixed-width vector + provenance metadata. */
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
                           checksum: String, features: Array[Double])

  /** Attach a binary payload column + metadata. In production the payload
    * is the raw media file bytes; here the document text stands in as the
    * payload so the plumbing is exercised end-to-end with real data.
    */
  def attachBinary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      lit("text/plain").as("kind"),
      encode(col(textCol), "UTF-8").as("content"),
      struct(
        length(encode(col(textCol), "UTF-8")).cast(LongType).as("n_bytes"),
        md5(encode(col(textCol), "UTF-8")).as("checksum")).as("meta"))

  /** REAL header decode — the filter-gate read a multimodal pipeline
    * runs before any pixel work: format / width / height / bit depth
    * parsed straight from PNG IHDR, GIF LSD, and JPEG SOFn header bytes
    * by the codegen'd [[graft.functions.mediaHeader]] kernel (pure
    * byte arithmetic, no codec jars). Corrupt, truncated, or
    * unknown-magic payloads yield a NULL struct — loud, never a wrong
    * dimension. Scale shape: one map-only projection; payload bytes
    * never leave the executor.
    */
  def headerMeta(content: Column): Column =
    graft.functions.mediaHeader(content)

  /** Per-payload header fields flattened to scalar columns (the
    * resolution/format gate's input table): doc_id, kind, n_bytes,
    * format, width, height, bit_depth — NULLs where the header does
    * not parse.
    */
  def headerFeatures(media: DataFrame, idCol: String, kindCol: String,
                     contentCol: String): DataFrame =
    media.select(col(idCol), col(kindCol),
        length(col(contentCol)).cast(LongType).as("n_bytes"),
        headerMeta(col(contentCol)).as("__h"))
      .select(col(idCol), col(kindCol), col("n_bytes"),
        col("__h.format").as("format"), col("__h.width").as("width"),
        col("__h.height").as("height"),
        col("__h.bit_depth").as("bit_depth"))

  /** The resolution/format gate's aggregate columns over parsed header
    * fields — SHARED by the batch scorecard (q336) and the streaming
    * twin ([[graft.streaming.CorpusStreams.windowedMediaGate]]), the
    * wideBandNib discipline: batch and stream can never gate
    * differently. Reason counts are independent (a doc can be both
    * too-small and bad-aspect) so the monitoring read shows WHY mass
    * drops.
    */
  def gateCounts(format: Column, w: Column, h: Column,
                 minDim: Long = 64L, maxAspect: Long = 4L,
                 allowed: Seq[String] = Seq("png", "jpeg")): Seq[Column] = {
    val parseable = format.isNotNull
    val allowedC = format.isin(allowed: _*)
    val big = w >= minDim && h >= minDim
    val aspectOk = w <= h * maxAspect && h <= w * maxAspect
    Seq(count(lit(1)).as("n_docs"),
      count(when(parseable && allowedC && big && aspectOk, 1))
        .as("n_keep"),
      count(when(parseable && !allowedC, 1)).as("n_not_allowed"),
      count(when(parseable && !big, 1)).as("n_too_small"),
      count(when(parseable && !aspectOk, 1)).as("n_bad_aspect"))
  }

  /** REAL audio header decode — WAV (RIFF chunk walk to "fmt ") and
    * FLAC (STREAMINFO bit unpacking) via the codegen'd
    * [[graft.functions.audioHeader]] kernel: (format, sample_rate,
    * channels, bits), NULL on corrupt. The sample-rate/channel gates an
    * audio training pipeline runs before any PCM decode.
    */
  def audioMeta(content: Column): Column =
    graft.functions.audioHeader(content)

  /** The audio QUALITY gate's aggregate columns over a decoded
    * [[graft.functions.pcmStats]] struct — SHARED by the q346 batch
    * verdict and the streaming twin
    * ([[graft.streaming.CorpusStreams.windowedAudioGate]]), the
    * [[gateCounts]] discipline for the audio half: batch and stream
    * can never gate differently. Gates: sample rate within
    * [minRate, maxRate], clipping ≤ clipPctMax % of samples, edge
    * silence ≤ silencePctMax %; keep_duration_ms totals the admitted
    * audio (the number a dataset budget actually tracks).
    */
  def audioGateCounts(stats: Column, minRate: Long = 16000L,
                      maxRate: Long = 48000L, clipPctMax: Long = 1L,
                      silencePctMax: Long = 20L): Seq[Column] = {
    val parseable = stats.isNotNull
    val rateOk = stats.getField("sample_rate") >= minRate &&
      stats.getField("sample_rate") <= maxRate
    val clipOk = stats.getField("n_clipped") * 100L <=
      stats.getField("n_samples") * clipPctMax
    val silOk = (stats.getField("lead_silence") +
      stats.getField("trail_silence")) * 100L <=
      stats.getField("n_samples") * silencePctMax
    val keep = parseable && rateOk && clipOk && silOk
    Seq(count(lit(1)).as("n_docs"),
      count(when(parseable, 1)).as("n_parseable"),
      count(when(parseable && !rateOk, 1)).as("n_bad_rate"),
      count(when(parseable && !clipOk, 1)).as("n_clipping"),
      count(when(parseable && !silOk, 1)).as("n_too_silent"),
      count(when(keep, 1)).as("n_keep"),
      coalesce(sum(when(keep, stats.getField("duration_ms"))), lit(0L))
        .as("keep_duration_ms"))
  }

  /** REAL video container header decode — MP4/ISO-BMFF box walk and
    * AVI RIFF walk via the codegen'd [[graft.functions.videoHeader]]
    * kernel: (format, width, height, duration_ms, n_frames, codec),
    * NULL on corrupt. The resolution/duration gate a video training
    * pipeline runs before any frame is decoded.
    */
  def videoMeta(content: Column): Column =
    graft.functions.videoHeader(content)

  /** The video gate's KEEP predicate over a decoded header struct —
    * SHARED by the q356 batch pipeline (both its scorecard and its
    * which-docs-get-frame-sampled filter) and the streaming twin
    * ([[graft.streaming.CorpusStreams.windowedVideoGate]]): batch and
    * stream can never gate differently.
    */
  def videoKeep(hdr: Column, minW: Long = 16L, minH: Long = 10L,
                minDurMs: Long = 100L): Column =
    hdr.isNotNull && hdr.getField("width") >= minW &&
      hdr.getField("height") >= minH &&
      hdr.getField("duration_ms") >= minDurMs

  /** The video gate's aggregate columns ([[gateCounts]] discipline):
    * doc counts, keeps under [[videoKeep]], and the admitted duration
    * total (the number a video-dataset budget actually tracks).
    */
  def videoGateCounts(hdr: Column, minW: Long = 16L, minH: Long = 10L,
                      minDurMs: Long = 100L): Seq[Column] = {
    val keep = videoKeep(hdr, minW, minH, minDurMs)
    Seq(count(lit(1)).as("n_docs"),
      count(when(hdr.isNotNull, 1)).as("n_parseable"),
      count(when(keep, 1)).as("n_keep"),
      coalesce(sum(when(keep, hdr.getField("duration_ms"))), lit(0L))
        .as("keep_duration_ms"))
  }

  /** The WebDataset SHARD gate's aggregate columns over an enumerated
    * member array ([[graft.functions.tarMembers]] output — the
    * [[gateCounts]] discipline for the archive layer): shard / member
    * / per-modality member counts and total member bytes. SHARED by
    * the streaming twin
    * ([[graft.streaming.CorpusStreams.windowedShardGate]]) and any
    * batch read, so batch and stream can never gate differently.
    * Unparseable shards count into n_shards but contribute no member
    * mass (their members are NULL, loud upstream).
    */
  def shardGateCounts(members: Column): Seq[Column] = {
    val parseable = members.isNotNull
    def suffixCount(ext: String): Column =
      coalesce(sum(when(parseable,
        size(filter(members, m => m.getField("name").endsWith(ext))))),
        lit(0)).cast(LongType)
    Seq(count(lit(1)).as("n_shards"),
      count(when(parseable, 1)).as("n_parseable"),
      coalesce(sum(when(parseable, size(members))), lit(0))
        .cast(LongType).as("n_members"),
      suffixCount(".bmp").as("n_images"),
      suffixCount(".txt").as("n_texts"),
      coalesce(sum(when(parseable,
        aggregate(members, lit(0L), (acc, m) =>
          acc + m.getField("size")))), lit(0L)).as("member_bytes"))
  }

  /** Per-SAMPLE rows of a WebDataset shard derived from ONE payload
    * column — NO img⋈txt join: both members of a sample live in the
    * same archive, so the pairing is ARRAY arithmetic over the member
    * list (the .txt twin of "{doc}_{k}.bmp" is name-derived). This is
    * what makes a per-sample STREAMING gate possible without a
    * stream-stream join, and at batch scale it trades q360's
    * (doc, sample)-keyed shuffle join for per-row array work inside
    * the scan. Returns array<struct<name, width, n_tokens>> — NULL
    * for corrupt shards (explode drops them, loud upstream), NULL
    * width for an undecodable image slice, NULL n_tokens for an
    * unpaired image. The JOIN formulation must agree with this one —
    * parity is test-locked in StreamingSpec.
    */
  def wdsSampleRows(payload: Column): Column = {
    val members = graft.functions.tarMembers(payload)
    val imgs = filter(members, m => m.getField("name").endsWith(".bmp"))
    transform(imgs, m => {
      val txtName =
        regexp_replace(m.getField("name"), "\\.bmp$", ".txt")
      // get() is 0-indexed and null-safe (element_at throws under ANSI)
      val txt = get(filter(members,
        t => t.getField("name") === txtName), lit(0))
      struct(
        m.getField("name").as("name"),
        graft.functions.pixelStats(payload.substr(
            m.getField("offset") + lit(1L), m.getField("size")))
          .getField("width").as("width"),
        when(txt.isNull, lit(null).cast(LongType))
          .otherwise(size(graft.functions.tokens(payload.substr(
            txt.getField("offset") + lit(1L), txt.getField("size"))
            .cast("string"))).cast(LongType)).as("n_tokens"))
    })
  }

  /** Per-sample KEEP / drop-reason gate columns over exploded
    * WebDataset sample rows — the q360 keep predicate
    * (width ≥ minW ∧ n_tokens ≥ minTokens) closed to counts, with the
    * two failure reasons counted separately (non-exclusive: a sample
    * failing both counts in both — reason columns answer "what do we
    * lose if we tighten X", so they must not mask each other). SHARED
    * by the streaming twin
    * ([[graft.streaming.CorpusStreams.windowedSampleGate]]) and any
    * batch read, so batch and stream can never gate differently.
    */
  def sampleGateCounts(width: Column, nTokens: Column,
                       minW: Long = 12L, minTokens: Long = 3L): Seq[Column] =
    Seq(count(lit(1)).as("n_samples"),
      count(when(width >= minW && nTokens >= minTokens, 1)).as("n_keep"),
      count(when(width.isNull || width < minW, 1)).as("n_img_drop"),
      count(when(nTokens.isNull || nTokens < minTokens, 1))
        .as("n_txt_drop"))

  /** REAL image PIXEL decode (round 14 — the stub is dead for images):
    * the codec-free native kernel first
    * ([[graft.expressions.PixelKernel]] — PNG via JDK Inflater + filter
    * reconstruction, BMP raw BGR, GIF via the spec's own LZW table
    * arithmetic; the codegen'd scale path, oracle-gated by
    * q342/q343/q351), then the JDK's OWN ImageIO plugin for the one
    * remaining entropy-coded format (JPEG — the decoder ships with
    * every JDK in java.desktop, no external jars). JPEG decode is
    * deterministic for a given JDK but NOT spec-pinned across decoder
    * implementations (IDCT rounding varies), so ImageIO-decoded
    * statistics are unit-tested rather than oracle-gated. Returns None
    * for non-image payloads (and for image payloads that fail to
    * decode — corrupt → None, loud not wrong).
    */
  private[graft] def decodeImage(content: Array[Byte])
  : Option[graft.expressions.PixelKernel.Stats] =
    Option(graft.expressions.PixelKernel.decode(content))
      .orElse(imageIoDecode(content))

  /** ImageIO fallback for the JPEG magic only — GIF is native as of
    * round 14 ([[graft.expressions.PixelKernel]] LZW) and arbitrary
    * text bytes are never handed to a codec. Same luminance/dHash
    * definitions as the native kernel (PixelKernel.statsOf is shared),
    * same 2^24-pixel decode-bomb guard.
    */
  private def imageIoDecode(content: Array[Byte])
  : Option[graft.expressions.PixelKernel.Stats] = {
    if (content == null || content.length < 3) return None
    val isJpeg = (content(0) & 0xFF) == 0xFF && (content(1) & 0xFF) == 0xD8
    if (!isJpeg) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return None }
      val reader = readers.next()
      try {
        reader.setInput(iis)
        // decode-bomb guard BEFORE decoding: getWidth/getHeight read
        // the header only — an adversarial SOF declaring 30000×20000
        // must be rejected before ImageIO materializes a multi-GB
        // raster (code-review r14 finding)
        val w = reader.getWidth(0); val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return None
        val img = reader.read(0)
        val gray = img.getColorModel.getNumColorComponents == 1
        // ONE bulk getRGB: per-pixel getRGB pays a color-model convert
        // + bounds check per CALL (code-review r14 finding) — the bulk
        // form converts the raster once into an int array no larger
        // than the raster ImageIO already materialized
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        Some(graft.expressions.PixelKernel.statsOf(
          "jpeg", w, h, if (gray) 1 else 3, (x, yy) => {
            val rgb = px(yy * w + x)
            299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
              114L * (rgb & 0xFF)
          }))
      } finally { reader.dispose(); iis.close() }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-payload PIXEL metadata via the partition-batched (mapInPandas-
    * shaped) pass: REAL decode ([[decodeImage]]) where the payload is an
    * image — kind rewritten to `image/<format>`, pixel count, the
    * 8-bucket luminance histogram, and the 64-bit dHash — and the
    * original kind with NULL pixel fields where it is not (a gate sees
    * the NULLs and routes accordingly). Oracle-gated by q32/q41 over
    * arithmetically constructed images.
    */
  case class PixelMeta(doc_id: Long, kind: String, n_bytes: Long,
                       n_pixels: Option[Long], dhash: Option[Long],
                       lum_hist: Option[Seq[Long]])

  def pixelFeatures(media: Dataset[MediaRecord]): Dataset[PixelMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { rec =>
      val nb = if (rec.content == null) 0L else rec.content.length.toLong
      decodeImage(rec.content) match {
        case Some(st) => PixelMeta(rec.doc_id, "image/" + st.format, nb,
          Some(st.width.toLong * st.height), st.dhash, Some(st.hist.toSeq))
        case None => PixelMeta(rec.doc_id, rec.kind, nb, None, None, None)
      }
    })
  }

  /** Deterministic FALLBACK features for NON-IMAGE payloads (text or
    * unknown bytes carried through the media pipeline): an 8-bucket
    * byte histogram, normalized. Image payloads never reach this — they
    * take the real [[decodeImage]] path in [[extractFeatures]].
    */
  private[graft] def byteHistogram(content: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](8)
    var i = 0
    while (i < content.length) {
      hist((content(i) & 0xff) >> 5) += 1.0
      i += 1
    }
    val n = math.max(content.length, 1).toDouble
    hist.map(_ / n)
  }

  /** REAL image RESIZE (round 14 — the resize stub is dead): box-filter
    * downscale to a tw×th milli-luminance grid via the shared
    * [[graft.expressions.PixelKernel.resizeGrid]] cell partition — the
    * codec-free native decode path first (PNG/BMP/GIF), then the JDK
    * ImageIO JPEG route under the SAME grid definition. None for
    * non-image / corrupt payloads or an upscale request (no invented
    * samples — a gate routes on the None).
    */
  private[graft] def resizeImage(content: Array[Byte], tw: Int,
                                 th: Int): Option[Array[Long]] = {
    val native = graft.expressions.PixelKernel.resizeBox(content, tw, th)
    if (native != null) return Some(native)
    imageIoDecode(content) match {
      case Some(st) => jpegResize(content, st, tw, th)
      case None => None
    }
  }

  /** JPEG resize through the decoded raster — re-reads via ImageIO
    * (the stats decode does not retain pixels; resize is a separate,
    * rarer pass) and applies the shared resizeGrid arithmetic.
    */
  private def jpegResize(content: Array[Byte],
                         st: graft.expressions.PixelKernel.Stats,
                         tw: Int, th: Int): Option[Array[Long]] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return None
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      Option(graft.expressions.PixelKernel.resizeGrid(w, h, tw, th,
        (x, y) => {
          val rgb = px(y * w + x)
          299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
            114L * (rgb & 0xFF)
        }))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One sampled video frame's statistics as carried through the
    * pipeline (the per-frame twin of [[PixelMeta]]).
    */
  case class FrameMeta(doc_id: Long, frame_idx: Long, lum_sum: Long,
                       lum_sq_sum: Long, dhash: Option[Long])

  /** REAL video frame sampling (round 14 — the frame-sample stub is
    * dead): every `stride`-th uncompressed-DIB AVI frame decoded to the
    * SAME integer statistics as still images
    * ([[graft.expressions.VideoFrameKernel]] — shared
    * PixelKernel.statsOf definitions, so image↔video near-dup joins
    * are well-defined). Non-AVI / compressed / corrupt payloads yield
    * NO rows for that doc (the header gate upstream already routed
    * them). Scale shape: frames are decoded only when sampled — the
    * walk skips unsampled chunks by declared size — and payload bytes
    * never leave the executor; only the fixed-width per-frame stats
    * rows shuffle.
    */
  def sampleFrames(media: Dataset[MediaRecord],
                   stride: Int): Dataset[FrameMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { rec =>
      graft.expressions.VideoFrameKernel.decode(rec.content, stride)
        .getOrElse(Seq.empty)
        .map(f => FrameMeta(rec.doc_id, f.frameIdx, f.lumSum, f.lumSqSum,
          f.dhash))
    })
  }

  /** Partition-batched feature extraction: the mapInPandas-shaped pass.
    * One iterator per partition; image payloads are REALLY decoded
    * ([[decodeImage]]) to a normalized 8-bucket LUMINANCE histogram;
    * non-image payloads fall back to the normalized byte histogram
    * ([[byteHistogram]]) so the feature width is uniform.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      batch.map { rec =>
        val sum = digest.digest(rec.content).map("%02x".format(_)).mkString
        digest.reset()
        val feats = decodeImage(rec.content) match {
          case Some(st) =>
            val n = math.max(st.width.toLong * st.height, 1L).toDouble
            st.hist.map(_ / n)
          case None => byteHistogram(rec.content)
        }
        MediaFeatures(rec.doc_id, rec.kind, rec.content.length.toLong,
          sum, feats)
      }
    }
  }

  /** DataFrame-level convenience: docs → binary payloads → features. */
  def docFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    val media = attachBinary(docs, idCol, textCol)
      .select("doc_id", "kind", "content").as[MediaRecord]
    extractFeatures(media).toDF()
  }
}
