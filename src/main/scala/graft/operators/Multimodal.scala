package graft.operators

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Op, Q}
import graft.sources.Tables.t
import graft.functions.TextAnalysis.{hex60, hex60Duck}

/** Multimodal-column plumbing (north star, /root/repo/BASELINE.json):
  * image/audio/video are opaque `binary` columns with typed metadata.
  * The harness ships no binary table, so media payloads are
  * deterministic stand-ins — and the pipeline covers BOTH honesty
  * levels: [[mmDecodeFeatures]] keeps the clearly-marked byte-stats
  * stub (the shape a production job drops an ffmpeg-class codec into),
  * while [[mmCodecRoundtrip]] runs a REAL image codec end-to-end (JDK
  * ImageIO PNG encode → decode), [[mmAudioRoundtrip]] a REAL audio
  * codec (javax.sound WAV/PCM), [[mmResizeReal]] a REAL resize chain
  * (PNG decode → AffineTransformOp resample → PNG re-encode), and
  * [[mmFrameDecode]] a REAL multi-frame container (JDK GIF sequence
  * writer/reader, every-4th-frame skip-decode) — all inside the typed
  * mapPartitions batch path, present on every executor JVM with zero
  * deployment. The only genuinely-absent codecs are COMPRESSED
  * audio/video (ffmpeg-class: MP3/AAC/H.264, not in this container —
  * BASELINE.md permanent bounds); [[decodeStub]] remains solely as the
  * documented SHAPE example a production job drops such a codec into.
  */
object Multimodal {

  /** Typed rows for the mapPartitions decode stage (public — Catalyst
    * codegen instantiates them from generated Java). */
  case class MediaIn(doc_id: Long, media: Array[Byte])
  case class MediaFeat(doc_id: Long, n_bytes: Long,
      mean_byte: Double, b0: Long, b1: Long, b2: Long, b3: Long)

  /** The clearly-marked decode stub: deterministic byte statistics in
    * place of a real image/audio decode (mean byte value + 4-bin
    * histogram). Pure integer arithmetic → exactly reproducible by the
    * SQL oracle. */
  private def decodeStub(m: MediaIn): MediaFeat = {
    val bs = m.media
    var sum = 0L
    val bins = new Array[Long](4)
    var i = 0
    while (i < bs.length) {
      val v = bs(i) & 0xff
      sum += v
      bins(v / 64) += 1
      i += 1
    }
    val mean =
      if (bs.length == 0) 0.0
      else BigDecimal(sum.toDouble / bs.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    MediaFeat(m.doc_id, bs.length.toLong, mean,
      bins(0), bins(1), bins(2), bins(3))
  }

  /** Typed metadata for opaque media blobs: size plus md5-derived fake
    * width/height/duration (what a catalog column for images/video looks
    * like; all SQL-derivable, so oracle-checked). */
  val mmMetadata: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id",
        "CAST(octet_length(CAST(text AS BINARY)) AS BIGINT) AS n_bytes",
        s"16 + ${hex60("concat('w_', text)")} % 240 AS width",
        s"16 + ${hex60("concat('h_', text)")} % 120 AS height",
        "1 + n_chars div 100 AS n_frames")
      .orderBy("doc_id")

  val mmMetadataOracle: String =
    s"""SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       16 + ${hex60Duck("concat('w_', text)")} % 240 AS width,
       16 + ${hex60Duck("concat('h_', text)")} % 120 AS height,
       1 + n_chars // 100 AS n_frames
       FROM documents ORDER BY doc_id"""

  /** Batch feature extraction through a typed Dataset + mapPartitions —
    * the real multimodal execution shape (per-partition batching keeps a
    * codec/model warm per task; at 100 TB this is the only pattern that
    * amortizes decoder init across rows). */
  val mmDecodeFeatures: Q = (s, dir) => {
    implicit val inEnc: org.apache.spark.sql.Encoder[MediaIn] =
      Encoders.product[MediaIn]
    implicit val outEnc: org.apache.spark.sql.Encoder[MediaFeat] =
      Encoders.product[MediaFeat]
    t(s, dir, "documents")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS media")
      .as[MediaIn]
      .mapPartitions(_.map(decodeStub))
      .toDF()
      .orderBy("doc_id")
  }

  /** Oracle recomputes the byte statistics in SQL (ASCII text ⇒ UTF-8
    * bytes = codepoints). */
  val mmDecodeFeaturesOracle: String =
    """WITH b AS (
         SELECT doc_id,
           list_transform(range(1, length(text) + 1),
             i -> ascii(text[i])) AS bytes
         FROM documents)
       SELECT doc_id, len(bytes) AS n_bytes,
         round(CAST(list_sum(bytes) AS DOUBLE) / len(bytes), 6) AS mean_byte,
         len(list_filter(bytes, v -> v // 64 = 0)) AS b0,
         len(list_filter(bytes, v -> v // 64 = 1)) AS b1,
         len(list_filter(bytes, v -> v // 64 = 2)) AS b2,
         len(list_filter(bytes, v -> v // 64 = 3)) AS b3
       FROM b ORDER BY doc_id"""

  /** Typed rows for the REAL multi-frame decode. */
  case class GifParams(doc_id: Long, w: Int, h: Int, n_frames: Int)
  case class FrameFeat(doc_id: Long, frame_idx: Long, n_frames: Long,
      width: Long, height: Long, r: Long, g: Long, b: Long)

  /** REAL multi-frame decode — the video-keyframe access pattern on an
    * actual container codec, retiring the text-chunk stand-in: each
    * document gets an N-frame animated GIF (doc-derived dims, frame
    * count, and per-frame solid palette colors) built with the JDK's
    * GIF sequence writer (`prepareWriteSequence`/`writeToSequence` —
    * palette-indexed, so colors survive the codec losslessly), then
    * the reader counts the container's frames (`getNumImages`) and
    * DECODES ONLY every 4th frame — the skip-decode half of frame
    * sampling, where the win at scale lives (decode cost ∝ sampled
    * frames, not stored frames). Per-frame features are the decoded
    * RGB (verified uniform across the frame), analytically recomputed
    * by the oracle from the generating parameters; GIF magic is
    * asserted per row so a byte-pass-through fake cannot sneak by. */
  val mmFrameDecode: Q = (s, dir) => {
    implicit val pEnc: org.apache.spark.sql.Encoder[GifParams] =
      Encoders.product[GifParams]
    implicit val fEnc: org.apache.spark.sql.Encoder[FrameFeat] =
      Encoders.product[FrameFeat]
    t(s, dir, "documents")
      .selectExpr("doc_id",
        "CAST(8 + doc_id % 8 AS INT) AS w",
        "CAST(4 + doc_id % 4 AS INT) AS h",
        "CAST(2 + n_chars % 5 AS INT) AS n_frames")
      .as[GifParams]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { p =>
          val id = p.doc_id
          def frameColor(f: Int): (Int, Int, Int) =
            (((id * 5 + f * 11) % 256).toInt,
              ((id * 7 + f * 3) % 256).toInt,
              ((id * 13 + f * 19) % 256).toInt)
          // ---- encode: N solid frames, per-frame 2-entry palettes ----
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("gif").next()
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          (0 until p.n_frames).foreach { f =>
            val (r, g, b) = frameColor(f)
            val icm = new java.awt.image.IndexColorModel(8, 2,
              Array(r.toByte, 0.toByte), Array(g.toByte, 0.toByte),
              Array(b.toByte, 0.toByte))
            // raster defaults to index 0 → the whole frame is (r,g,b)
            val img = new java.awt.image.BufferedImage(p.w, p.h,
              java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
          }
          writer.endWriteSequence()
          ios.close()
          writer.dispose()
          val gif = bos.toByteArray
          // GIF87a/89a magic — proves a real container encoder ran
          require(gif.length > 6 && gif(0) == 'G' && gif(1) == 'I' &&
            gif(2) == 'F' && gif(3) == '8',
            s"doc $id: not a GIF stream")
          // ---- decode: count frames, read ONLY every 4th ----
          val reader = javax.imageio.ImageIO
            .getImageReadersByFormatName("gif").next()
          reader.setInput(javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(gif)))
          val n = reader.getNumImages(true)
          require(n == p.n_frames,
            s"doc $id: container frame count $n != ${p.n_frames}")
          val out = (0 until n by 4).map { f =>
            val frame = reader.read(f)
            require(frame.getWidth == p.w && frame.getHeight == p.h,
              s"doc $id frame $f: decoded dims changed")
            val rgb = frame.getRGB(0, 0)
            // a solid frame must decode uniformly — every pixel checked
            var y = 0
            while (y < p.h) {
              var x = 0
              while (x < p.w) {
                require(frame.getRGB(x, y) == rgb,
                  s"doc $id frame $f: non-uniform decode at ($x,$y)")
                x += 1
              }
              y += 1
            }
            FrameFeat(id, f.toLong, n.toLong, p.w.toLong, p.h.toLong,
              (rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          }
          reader.dispose()
          out
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** Analytic recount: decoded frame colors must equal the generating
    * palette formula for exactly the sampled indices 0, 4, … */
  val mmFrameDecodeOracle: String =
    """WITH p AS (
         SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
           2 + n_chars % 5 AS n_frames
         FROM documents),
       f AS (
         SELECT doc_id, w, h, n_frames,
           unnest(range(0, n_frames, 4)) AS frame_idx
         FROM p)
       SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         CAST(n_frames AS BIGINT) AS n_frames,
         CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         (doc_id * 5 + frame_idx * 11) % 256 AS r,
         (doc_id * 7 + frame_idx * 3) % 256 AS g,
         (doc_id * 13 + frame_idx * 19) % 256 AS b
       FROM f ORDER BY doc_id, frame_idx"""

  /** Typed rows for the REAL resize pipeline. */
  case class ResizeParams(doc_id: Long, w: Int, h: Int)
  case class ResizeFeat(doc_id: Long, width: Long, height: Long,
      thumb_w: Long, thumb_h: Long, sum_r: Long, sum_g: Long,
      sum_b: Long)

  /** REAL image resize — encode → decode → SCALE → re-encode → decode,
    * no digests: each document gets a deterministic two-band RGB image
    * (w even, h ≡ 0 mod 4), PNG-encoded and decoded via ImageIO, then
    * HALVED with `AffineTransformOp` (nearest-neighbor — the JDK's
    * geometric resample; with even dims and band heights divisible by
    * 4 the band split of the thumbnail is exactly h/4 + h/4 rows
    * whatever inverse-mapping rounding the op uses, so the channel
    * sums are analytically determined), the THUMBNAIL re-encoded as
    * PNG (magic asserted — a real derived asset, not a crop of the
    * original bytes) and decoded once more. Features are the final
    * decode's dims + integer channel sums, so the DuckDB oracle
    * recomputes the whole chain from the generating parameters: a
    * pass proves synthesize → compress → parse → resample → compress
    * → parse is lossless end-to-end. Same partition-batched
    * mapPartitions shape as every media op here — codec state
    * amortized per task, O(1) features per row. */
  val mmResizeReal: Q = (s, dir) => {
    implicit val pEnc: org.apache.spark.sql.Encoder[ResizeParams] =
      Encoders.product[ResizeParams]
    implicit val fEnc: org.apache.spark.sql.Encoder[ResizeFeat] =
      Encoders.product[ResizeFeat]
    t(s, dir, "documents")
      .selectExpr("doc_id",
        s"CAST(16 + 2 * (${hex60("concat('w_', text)")} % 24) AS INT) AS w",
        s"CAST(16 + 4 * (${hex60("concat('h_', text)")} % 12) AS INT) AS h")
      .as[ResizeParams]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { p =>
          val id = p.doc_id
          val top = Array(((id * 1) % 256).toInt, ((id * 7) % 256).toInt,
            ((id * 13) % 256).toInt)
          val bot = Array(((id * 3) % 256).toInt, ((id * 11) % 256).toInt,
            ((id * 17) % 256).toInt)
          val img = new java.awt.image.BufferedImage(p.w, p.h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < p.h) {
            val c = if (y < p.h / 2) top else bot
            val rgb = (c(0) << 16) | (c(1) << 8) | c(2)
            var x = 0
            while (x < p.w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          // original asset: PNG encode → decode (magic asserted)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos): Unit
          val png = bos.toByteArray
          require(png.length > 8 && (png(0) & 0xff) == 0x89 &&
            png(1) == 'P' && png(2) == 'N' && png(3) == 'G',
            s"doc $id: source not a PNG stream")
          val src = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          // REAL resample: 0.5× nearest-neighbor affine
          val op = new java.awt.image.AffineTransformOp(
            java.awt.geom.AffineTransform.getScaleInstance(0.5, 0.5),
            java.awt.image.AffineTransformOp.TYPE_NEAREST_NEIGHBOR)
          val thumb = op.filter(src, null)
          require(thumb.getWidth == p.w / 2 &&
            thumb.getHeight == p.h / 2,
            s"doc $id: resample dims ${thumb.getWidth}x" +
              s"${thumb.getHeight} != ${p.w / 2}x${p.h / 2}")
          // derived asset: the THUMBNAIL re-encoded and re-decoded
          val bos2 = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(thumb, "png", bos2): Unit
          val png2 = bos2.toByteArray
          require(png2.length > 8 && (png2(0) & 0xff) == 0x89 &&
            png2(1) == 'P' && png2(2) == 'N' && png2(3) == 'G',
            s"doc $id: thumbnail not a PNG stream")
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png2))
          var (sr, sg, sb) = (0L, 0L, 0L)
          var yy = 0
          while (yy < back.getHeight) {
            var xx = 0
            while (xx < back.getWidth) {
              val v = back.getRGB(xx, yy)
              sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
              xx += 1
            }
            yy += 1
          }
          ResizeFeat(id, p.w.toLong, p.h.toLong, back.getWidth.toLong,
            back.getHeight.toLong, sr, sg, sb)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Analytic recount: the h≡0 (mod 4) construction makes the
    * thumbnail's band split exactly h/4 + h/4 rows regardless of the
    * resampler's rounding, so per channel
    * sum = (w/2) · (h/4 · c_top + h/4 · c_bot). */
  val mmResizeRealOracle: String =
    s"""WITH p AS (
         SELECT doc_id,
           16 + 2 * (${hex60Duck("concat('w_', text)")} % 24) AS w,
           16 + 4 * (${hex60Duck("concat('h_', text)")} % 12) AS h
         FROM documents),
       bands AS (
         SELECT doc_id, w, h, h // 4 AS rows_per_band,
           doc_id % 256 AS tr, (doc_id * 7) % 256 AS tg,
           (doc_id * 13) % 256 AS tb,
           (doc_id * 3) % 256 AS br, (doc_id * 11) % 256 AS bg,
           (doc_id * 17) % 256 AS bb
         FROM p)
       SELECT doc_id, CAST(w AS BIGINT) AS width,
         CAST(h AS BIGINT) AS height,
         CAST(w // 2 AS BIGINT) AS thumb_w,
         CAST(h // 2 AS BIGINT) AS thumb_h,
         CAST((w // 2) * rows_per_band * (tr + br) AS BIGINT) AS sum_r,
         CAST((w // 2) * rows_per_band * (tg + bg) AS BIGINT) AS sum_g,
         CAST((w // 2) * rows_per_band * (tb + bb) AS BIGINT) AS sum_b
       FROM bands ORDER BY doc_id"""

  /** Typed row for the media→embedding stage. */
  case class MediaHist(doc_id: Long, emb: Array[Float])

  /** Decode → embed → similarity-search in one plan: each media blob is
    * embedded as its 16-bin byte histogram (the decode-stub stand-in for
    * a real image/audio encoder) through the typed mapPartitions batch
    * path, then the first five docs query the rest for cosine top-3 —
    * WRITTEN as the declarative cross-join + window-rank form, which
    * `RewriteCosineTopK` rewrites onto `CosineTopKJoinExec` (the rule is
    * shape-based, so it fires over this non-parquet, typed-pipeline child
    * exactly as it does over the embeddings table; asserted in PlanSpec).
    * Histogram counts are small integers — exact in FLOAT — so the
    * double fold agrees with the oracle bit-for-bit. */
  val mmEmbedAnn: Q = (s, dir) => {
    implicit val inEnc: org.apache.spark.sql.Encoder[MediaIn] =
      Encoders.product[MediaIn]
    implicit val histEnc: org.apache.spark.sql.Encoder[MediaHist] =
      Encoders.product[MediaHist]
    val hist = t(s, dir, "documents")
      .selectExpr("doc_id", "CAST(text AS BINARY) AS media")
      .as[MediaIn]
      .mapPartitions(_.map { m =>
        val bins = new Array[Float](16)
        var i = 0
        while (i < m.media.length) {
          bins((m.media(i) & 0xff) / 16) += 1f
          i += 1
        }
        MediaHist(m.doc_id, bins)
      })
      .toDF()
      .selectExpr("doc_id", "emb", "sqrt(graft_dot(emb, emb)) AS nrm")
    val q = hist.filter(col("doc_id") < 5)
      .selectExpr("doc_id AS q_id", "emb AS q_emb", "nrm AS q_nrm")
    val c = hist.filter(col("doc_id") >= 5)
      .selectExpr("doc_id AS c_id", "emb AS c_emb", "nrm AS c_nrm")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id").asc)
    c.join(broadcast(q))
      .selectExpr("q_id", "c_id",
        "graft_dot(q_emb, c_emb) / (q_nrm * c_nrm) AS cos_sim")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .selectExpr("q_id", "rank", "c_id", "round(cos_sim, 6) AS cos_sim")
      .orderBy("q_id", "rank")
  }

  private val dotD16 =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
       list_transform(range(1, 17), i -> %A%[i] * %B%[i])),
       (acc, v) -> acc + v)"""

  val mmEmbedAnnOracle: String = {
    def dot(a: String, b: String) =
      dotD16.replace("%A%", a).replace("%B%", b)
    s"""WITH b AS (
         SELECT doc_id,
           list_transform(range(1, length(text) + 1),
             i -> ascii(text[i])) AS bytes
         FROM documents),
       h AS (
         SELECT doc_id,
           list_transform(range(0, 16), bin ->
             CAST(len(list_filter(bytes, v -> v // 16 = bin)) AS DOUBLE))
             AS emb
         FROM b),
       n AS (SELECT doc_id, emb, sqrt(${dot("emb", "emb")}) AS nrm FROM h),
       q AS (SELECT doc_id AS q_id, emb AS q_emb, nrm AS q_nrm
             FROM n WHERE doc_id < 5),
       c AS (SELECT doc_id AS c_id, emb AS c_emb, nrm AS c_nrm
             FROM n WHERE doc_id >= 5),
       ranked AS (
         SELECT q_id, c_id,
           ${dot("q_emb", "c_emb")} / (q_nrm * c_nrm) AS cos_sim,
           row_number() OVER (PARTITION BY q_id ORDER BY
             ${dot("q_emb", "c_emb")} / (q_nrm * c_nrm) DESC, c_id ASC)
             AS rank
         FROM c CROSS JOIN q)
       SELECT q_id, rank, c_id, round(cos_sim, 6) AS cos_sim
       FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"""
  }

  /** Typed rows for the REAL-codec pipeline below. */
  case class ImgParams(doc_id: Long, w: Int, h: Int)
  case class CodecFeat(doc_id: Long, width: Long, height: Long,
      n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL image codec round-trip — no stub: each document gets a
    * deterministic two-band RGB image (doc-derived dimensions and band
    * colors), which is PNG-ENCODED with the JDK's ImageIO writer and
    * immediately PNG-DECODED with the ImageIO reader inside the same
    * mapPartitions pass (javax.imageio ships with every JDK, so unlike
    * ffmpeg-class codecs it exists on every executor with zero
    * deployment). Features are the DECODED integer channel sums and
    * dimensions, so the DuckDB oracle can recompute them analytically
    * from the generating parameters — a pass proves the full
    * synthesize → compress → parse → pixel-read chain is lossless, not
    * that two stubs agree. PNG magic is asserted per row: a
    * pass-through fake cannot sneak by.
    *
    * Scale shape: identical to [[mmDecodeFeatures]] — partition-batched
    * typed pipeline, codec state amortized per task, features are O(1)
    * per row however large the payload. This op retired the "no image
    * codec" caveat; [[mmAudioRoundtrip]] retired the audio one (JDK
    * WAV/PCM) — only ffmpeg-class COMPRESSED codecs remain genuinely
    * absent here. */
  val mmCodecRoundtrip: Q = (s, dir) => {
    implicit val pEnc: org.apache.spark.sql.Encoder[ImgParams] =
      Encoders.product[ImgParams]
    implicit val fEnc: org.apache.spark.sql.Encoder[CodecFeat] =
      Encoders.product[CodecFeat]
    t(s, dir, "documents")
      .selectExpr("doc_id",
        s"CAST(16 + ${hex60("concat('w_', text)")} % 64 AS INT) AS w",
        s"CAST(16 + ${hex60("concat('h_', text)")} % 48 AS INT) AS h")
      .as[ImgParams]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // no executor tmp spill
        it.map { p =>
          val id = p.doc_id
          val top = Array(((id * 1) % 256).toInt, ((id * 7) % 256).toInt,
            ((id * 13) % 256).toInt)
          val bot = Array(((id * 3) % 256).toInt, ((id * 11) % 256).toInt,
            ((id * 17) % 256).toInt)
          val img = new java.awt.image.BufferedImage(p.w, p.h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < p.h) {
            val c = if (y < p.h / 2) top else bot
            val rgb = (c(0) << 16) | (c(1) << 8) | c(2)
            var x = 0
            while (x < p.w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val png = bos.toByteArray
          // PNG signature — proves a real encoder ran, not a byte copy
          require(png.length > 8 && (png(0) & 0xff) == 0x89 &&
            png(1) == 'P' && png(2) == 'N' && png(3) == 'G',
            s"doc $id: not a PNG stream")
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          var (sr, sg, sb) = (0L, 0L, 0L)
          var yy = 0
          while (yy < back.getHeight) {
            var xx = 0
            while (xx < back.getWidth) {
              val v = back.getRGB(xx, yy)
              sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
              xx += 1
            }
            yy += 1
          }
          CodecFeat(id, back.getWidth.toLong, back.getHeight.toLong,
            back.getWidth.toLong * back.getHeight, sr, sg, sb)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Analytic recount from the generating parameters: the decoded sums
    * must equal w · (rows_top·c_top + rows_bot·c_bot) per channel. */
  val mmCodecRoundtripOracle: String =
    s"""WITH p AS (
         SELECT doc_id,
           16 + ${hex60Duck("concat('w_', text)")} % 64 AS w,
           16 + ${hex60Duck("concat('h_', text)")} % 48 AS h
         FROM documents),
       bands AS (
         SELECT doc_id, w, h, h // 2 AS rt, h - h // 2 AS rb,
           doc_id % 256 AS tr, (doc_id * 7) % 256 AS tg,
           (doc_id * 13) % 256 AS tb,
           (doc_id * 3) % 256 AS br, (doc_id * 11) % 256 AS bg,
           (doc_id * 17) % 256 AS bb
         FROM p)
       SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         CAST(w * h AS BIGINT) AS n_px,
         CAST(w * (rt * tr + rb * br) AS BIGINT) AS sum_r,
         CAST(w * (rt * tg + rb * bg) AS BIGINT) AS sum_g,
         CAST(w * (rt * tb + rb * bb) AS BIGINT) AS sum_b
       FROM bands ORDER BY doc_id"""

  /** Typed rows for the audio round-trip. */
  case class AudioParams(doc_id: Long, n_samples: Int, amp: Int,
      period: Int)
  case class AudioFeat(doc_id: Long, n_samples: Long, amp: Long,
      period: Long, sum_s: Long, sum_abs: Long, first_s: Long,
      last_s: Long)

  /** REAL audio codec round-trip — retires the audio half of the
    * media-stub caveat the same way [[mmCodecRoundtrip]] retired the
    * image half: each document gets a deterministic 16-bit mono PCM
    * square wave (doc-derived length, amplitude and period), which is
    * WAV-ENCODED with `javax.sound.sampled.AudioSystem.write` and
    * immediately DECODED with `AudioSystem.getAudioInputStream` inside
    * the same mapPartitions pass (javax.sound ships in the JDK's
    * java.desktop module — present on every executor JVM with zero
    * deployment, no audio hardware needed for file IO). Features are
    * the DECODED sample statistics, so the DuckDB oracle recomputes
    * them from the generating parameters — a pass proves the full
    * synthesize → RIFF-encode → parse → sample-read chain is lossless.
    * RIFF/WAVE magic is asserted per row: a byte-pass-through fake
    * cannot sneak by. ffmpeg-class compressed audio/video (MP3, AAC,
    * H.264) remains genuinely absent in this container; PCM/WAV is the
    * real uncompressed-codec path those jobs decode INTO. */
  val mmAudioRoundtrip: Q = (s, dir) => {
    implicit val pEnc: org.apache.spark.sql.Encoder[AudioParams] =
      Encoders.product[AudioParams]
    implicit val fEnc: org.apache.spark.sql.Encoder[AudioFeat] =
      Encoders.product[AudioFeat]
    t(s, dir, "documents")
      .selectExpr("doc_id",
        "CAST(64 + n_chars % 200 AS INT) AS n_samples",
        s"CAST(100 + ${hex60("concat('a_', text)")} % 1000 AS INT) AS amp",
        s"CAST(8 + ${hex60("concat('p_', text)")} % 16 AS INT) AS period")
      .as[AudioParams]
      .mapPartitions { it =>
        import javax.sound.sampled._
        // 8 kHz 16-bit signed little-endian mono — one format object
        // per task, amortized like the image codec state
        val fmt = new AudioFormat(8000f, 16, 1, true, false)
        it.map { p =>
          val pcm = new Array[Byte](p.n_samples * 2)
          var i = 0
          while (i < p.n_samples) {
            val v = if ((i / p.period) % 2 == 0) p.amp else -p.amp
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          AudioSystem.write(
            new AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), fmt,
              p.n_samples.toLong),
            AudioFileFormat.Type.WAVE, bos): Unit
          val wav = bos.toByteArray
          // RIFF/WAVE magic — proves a real container encoder ran
          require(wav.length > 44 &&
            wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' &&
            wav(3) == 'F' && wav(8) == 'W' && wav(9) == 'A' &&
            wav(10) == 'V' && wav(11) == 'E',
            s"doc ${p.doc_id}: not a RIFF/WAVE stream")
          val in = AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(wav))
          require(in.getFormat.getSampleSizeInBits == 16 &&
            in.getFormat.getChannels == 1,
            s"doc ${p.doc_id}: decoder changed the format")
          val back = in.readAllBytes()
          in.close()
          val n = back.length / 2
          var (sum, sumAbs) = (0L, 0L)
          var first = 0L; var last = 0L
          var j = 0
          while (j < n) {
            val v = ((back(2 * j) & 0xff) |
              (back(2 * j + 1) << 8)).toShort.toLong
            if (j == 0) first = v
            if (j == n - 1) last = v
            sum += v; sumAbs += math.abs(v)
            j += 1
          }
          AudioFeat(p.doc_id, n.toLong, p.amp.toLong, p.period.toLong,
            sum, sumAbs, first, last)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Analytic recount from the generating parameters via DuckDB list
    * HOFs: the decoded sample sums must equal the square wave's. */
  val mmAudioRoundtripOracle: String =
    s"""WITH p AS (
         SELECT doc_id,
           64 + n_chars % 200 AS n_samples,
           100 + ${hex60Duck("concat('a_', text)")} % 1000 AS amp,
           8 + ${hex60Duck("concat('p_', text)")} % 16 AS period
         FROM documents),
       w AS (
         SELECT doc_id, n_samples, amp, period,
           list_transform(range(0, n_samples),
             i -> CASE WHEN (i // period) % 2 = 0 THEN amp
                  ELSE -amp END) AS samples
         FROM p)
       SELECT doc_id,
         CAST(n_samples AS BIGINT) AS n_samples,
         CAST(amp AS BIGINT) AS amp,
         CAST(period AS BIGINT) AS period,
         CAST(list_sum(samples) AS BIGINT) AS sum_s,
         CAST(n_samples * amp AS BIGINT) AS sum_abs,
         CAST(samples[1] AS BIGINT) AS first_s,
         CAST(samples[n_samples] AS BIGINT) AS last_s
       FROM w ORDER BY doc_id"""

  /** RUNTIME codec capability probe — the multimodal surface degrades
    * LOUDLY, not by documentation: every codec the pipeline could
    * bind is probed against what this JVM/host actually provides
    * (ImageIO reader registry, the javax.sound sampled-audio SPI, an
    * ffmpeg binary on PATH) and surfaced as a metadata table
    * `(codec, kind, available, binding)`. A caller scheduling a
    * decode stage checks this first and gets the truthful answer for
    * THIS environment — in this sandbox: PNG/GIF/BMP/JPEG + WAV real,
    * MP3/AAC/H.264/VP9 absent (no ffmpeg-class decoder on the JVM or
    * system path, BASELINE.md "environment bounds"). Engine-specific
    * by nature → rows-only registered query; the spec pins the
    * sandbox's actual availability set. */
  val mmCodecCapabilities: Q = (s, _) => {
    import s.implicits._
    val imageio = javax.imageio.ImageIO.getReaderFormatNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val audio = javax.sound.sampled.AudioSystem.getAudioFileTypes
      .map(_.getExtension.toLowerCase(java.util.Locale.ROOT)).toSet
    val ffmpeg = sys.env.getOrElse("PATH", "").split(':').exists(p =>
      new java.io.File(p, "ffmpeg").canExecute)
    def img(c: String) =
      if (imageio.contains(c)) (true, "jdk:javax.imageio")
      else if (ffmpeg) (true, "system:ffmpeg") else (false, "unbound")
    def aud(c: String) =
      if (audio.contains(c)) (true, "jdk:javax.sound.sampled")
      else if (ffmpeg) (true, "system:ffmpeg") else (false, "unbound")
    def video(_c: String) =
      if (ffmpeg) (true, "system:ffmpeg") else (false, "unbound")
    val rows =
      Seq("png", "gif", "bmp", "jpeg").map(c => (c, "image", img(c))) ++
        Seq("wav").map(c => (c, "audio", aud(c))) ++
        Seq("mp3", "aac").map(c => (c, "audio", aud(c))) ++
        Seq("h264", "vp9").map(c => (c, "video", video(c)))
    rows.map { case (c, k, (ok, b)) => (c, k, ok, b) }
      .toDF("codec", "kind", "available", "binding")
      .orderBy("kind", "codec")
  }

  val ops: Seq[Op] = Seq(
    Op.unchecked("mm_codec_capabilities", mmCodecCapabilities),
    Op("mm_audio_roundtrip", mmAudioRoundtrip, mmAudioRoundtripOracle),
    Op("mm_embed_ann", mmEmbedAnn, mmEmbedAnnOracle),
    Op("mm_resize_real", mmResizeReal, mmResizeRealOracle),
    Op("mm_metadata", mmMetadata, mmMetadataOracle),
    Op("mm_decode_features", mmDecodeFeatures, mmDecodeFeaturesOracle),
    Op("mm_codec_roundtrip", mmCodecRoundtrip, mmCodecRoundtripOracle),
    Op("mm_frame_decode", mmFrameDecode, mmFrameDecodeOracle))
}
