package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video as opaque `binary` columns
  * with typed metadata structs, processed by batched partition-level
  * decoders (the Scala analog of `mapInPandas` — one iterator pass per
  * partition, vectorizable batch shape).
  *
  * ALL THREE MODALITIES HAVE REAL CODECS:
  *  - IMAGES: [[decodeImage]], [[imagePixels]], [[resizeImage]] and
  *    [[imageHistogram]] decode genuine PNG bytes — DEFLATE decompression,
  *    chunk CRCs, five-filter scanline reconstruction — through the
  *    spec-compliant [[Image]] codec (pure `java.util.zip`; see Image.scala
  *    for why this container's java.desktop / ImageIO is unusable).
  *  - AUDIO: [[decodeAudio]] / [[resampleAudio]] parse genuine RIFF/WAVE
  *    PCM through the [[Audio]] codec (chunk walk, 8/16-bit, multi-channel).
  *  - VIDEO: [[decodeVideo]] / [[videoFrameLuma]] / [[videoSceneCuts]]
  *    parse genuine YUV4MPEG2 streams through the [[Video]] codec
  *    (FRAME-marker framing, 4:2:0/4:4:4/mono planes).
  * COMPRESSED av codecs (H.264, MP3, …) remain environment-limited; the
  * byte-level [[decodeBlobStub]] keeps that pluggable contract testable —
  * swap its body for a javacv/ffmpeg call in production, the Spark-side
  * plumbing (binary schema, partition batching, output shape) is identical.
  *
  * Every function is one [[perRow]] pass; a null or undecodable blob is
  * data, never a task failure.
  */
object Multimodal {

  /** The one partition pass: `f` reads `inCols` at positions 0, 1, … (only
    * they and the id are deserialized) and returns output rows of `out`,
    * each emitted with the id prepended under the schema `idCol +: out`.
    * Row order within a partition is kept.
    */
  private def perRow(df: DataFrame, idCol: String, inCols: Seq[String],
      out: StructField*)(f: Row => IterableOnce[Row]): DataFrame = {
    val id = inCols.length
    df.select((inCols :+ idCol).map(col): _*).mapPartitions(_.flatMap { r =>
      f(r).iterator.map(t => Row.fromSeq(r.get(id) +: t.toSeq))
    })(Encoders.row(StructType(df.schema(idCol) +: out)))
  }

  /** Image metadata schema produced by [[decodeImage]]. */
  val ImageMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("bands", IntegerType),
    StructField("px_sum", LongType)))

  /** REAL image decode: (id, width, height, bands, px_sum) per blob via
    * the [[Image]] PNG codec, one batched partition pass. `px_sum` is the
    * integer sum of all pixel lumas — a deterministic whole-raster
    * checksum (PNG is lossless, so it is exactly reproducible from the
    * source pixels).
    * Undecodable blobs yield (-1, -1, -1, -1) rather than failing the
    * task (corrupt images are data, not bugs, at 100 TB).
    */
  def decodeImage(df: DataFrame, idCol: String, binCol: String): DataFrame =
    perRow(df, idCol, Seq(binCol), ImageMetaSchema.fields.toSeq: _*) { r =>
      Some(Image.decodePng(r.getAs[Array[Byte]](0)) match {
        case Some(img) =>
          var sum = 0L
          var y = 0
          while (y < img.height) {
            var x = 0
            while (x < img.width) { sum += img.luma(x, y); x += 1 }
            y += 1
          }
          Row(img.width, img.height, img.bands, sum)
        case None => Row(-1, -1, -1, -1L)
      })
    }

  /** REAL pixel extraction: one row per pixel (id, x, y, v) with v the
    * integer luma — the gateable primitive behind resize/feature checks.
    */
  def imagePixels(df: DataFrame, idCol: String, binCol: String): DataFrame =
    perRow(df, idCol, Seq(binCol), StructField("x", IntegerType),
        StructField("y", IntegerType), StructField("v", IntegerType)) { r =>
      Image.decodePng(r.getAs[Array[Byte]](0)).toSeq.flatMap { img =>
        for (y <- 0 until img.height; x <- 0 until img.width)
          yield Row(x, y, img.luma(x, y))
      }
    }

  /** REAL resize: nearest-neighbor resample to (targetW, targetH) and
    * re-encode as (lossless) PNG. Nearest-neighbor — source pixel
    * (x·srcW/dstW, y·srcH/dstH), integer floor — is chosen over filtered
    * resamplers because it is bit-deterministic across engines, so the
    * resized raster is oracle-checkable. ALL bands are resampled: a color
    * input stays color (band count is preserved). Output: (id, resized).
    */
  def resizeImage(df: DataFrame, idCol: String, binCol: String,
      targetW: Int, targetH: Int): DataFrame = {
    require(targetW >= 1 && targetH >= 1, "target dims must be >= 1")
    perRow(df, idCol, Seq(binCol), StructField("resized", BinaryType)) { r =>
      Image.decodePng(r.getAs[Array[Byte]](0)).map { img =>
        val nb = img.bands
        val out = new Array[Byte](targetW * targetH * nb)
        var y = 0
        while (y < targetH) {
          val sy = y * img.height / targetH
          var x = 0
          while (x < targetW) {
            val sx = x * img.width / targetW
            var b = 0
            while (b < nb) {
              out((y * targetW + x) * nb + b) = img.sample(sx, sy, b).toByte
              b += 1
            }
            x += 1
          }
          y += 1
        }
        Row(Image.encodePng(Image.Raster(targetW, targetH, nb, out)))
      }
    }
  }

  /** REAL feature extraction: `bins`-bin luma histogram per image — a
    * fixed-dim dense `Array[Float]` per blob, exactly the vector shape the
    * ANN machinery ([[graft.text.Embeddings]]) consumes, so image →
    * features → similarity search composes end-to-end on real pixels.
    */
  def imageHistogram(df: DataFrame, idCol: String, binCol: String,
      bins: Int = 16): DataFrame = {
    require(bins >= 1 && 256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    perRow(df, idCol, Seq(binCol),
        StructField("features", ArrayType(FloatType))) { r =>
      Image.decodePng(r.getAs[Array[Byte]](0)).map { img =>
        val hist = new Array[Float](bins)
        var y = 0
        while (y < img.height) {
          var x = 0
          while (x < img.width) {
            hist(img.luma(x, y) / width) += 1f; x += 1
          }
          y += 1
        }
        Row(hist.toSeq)
      }
    }
  }

  /** Deterministic grayscale PNG: pixel (x,y) = (31x + 17y + seed) mod 256.
    * The test-data generator for the image gates — a REAL PNG encode
    * (DEFLATE + Sub/Paeth filters via [[Image.encodePng]]), so decode sees
    * a genuine compressed image, while the pixel law stays closed-form for
    * the SQL oracle (PNG is lossless).
    */
  def grayPng(width: Int, height: Int, seed: Long): Array[Byte] = {
    val data = new Array[Byte](width * height)
    for (y <- 0 until height; x <- 0 until width)
      data(y * width + x) = ((31L * x + 17L * y + seed) % 256).toByte
    Image.encodePng(Image.Raster(width, height, 1, data))
  }

  /** Column form of [[grayPng]] (batched partition pass, not a row UDF). */
  def synthGrayPng(df: DataFrame, idCol: String, widthCol: String,
      heightCol: String, seedCol: String): DataFrame =
    perRow(df, idCol, Seq(widthCol, heightCol, seedCol),
        StructField("img", BinaryType)) { r =>
      Some(Row(grayPng(r.getInt(0), r.getInt(1), r.getLong(2))))
    }

  // ---- REAL audio (WAV/PCM via [[Audio]]) ----------------------------------

  /** Deterministic mono PCM16 WAV: sample(i) = ((31·i + 17·seed) mod 2048)
    * − 1024 — closed-form for the SQL oracle, genuinely RIFF-encoded so the
    * decode under test parses real bytes.
    */
  def synthWav(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val samples = new Array[Short](nSamples)
    var i = 0
    while (i < nSamples) {
      samples(i) = (((31L * i + 17L * seed) % 2048) - 1024).toShort
      i += 1
    }
    Audio.encodeWav(sampleRate, 1, samples)
  }

  /** Column form of [[synthWav]] (batched partition pass). */
  def synthWavCol(df: DataFrame, idCol: String, nCol: String,
      rateCol: String, seedCol: String): DataFrame =
    perRow(df, idCol, Seq(nCol, rateCol, seedCol),
        StructField("wav", BinaryType)) { r =>
      Some(Row(synthWav(r.getInt(0), r.getInt(1), r.getLong(2))))
    }

  /** Audio feature schema produced by [[decodeAudio]]. */
  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("n_frames", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("s_sum", LongType),
    StructField("sq_sum", LongType),
    StructField("peak", IntegerType),
    StructField("zero_crossings", LongType)))

  /** REAL audio decode + exact integer features per blob via the [[Audio]]
    * WAV codec — one batched partition pass; undecodable blobs yield a
    * (-1, …) row rather than failing the task.
    */
  def decodeAudio(df: DataFrame, idCol: String, binCol: String): DataFrame =
    perRow(df, idCol, Seq(binCol), AudioMetaSchema.fields.toSeq: _*) { r =>
      Some(Audio.decodeWav(r.getAs[Array[Byte]](0)) match {
        case Some(clip) =>
          val f = Audio.features(clip)
          Row(f.nFrames, f.sampleRate, f.channels, f.sum, f.sqSum, f.peak,
            f.zeroCrossings)
        case None => Row(-1L, -1, -1, -1L, -1L, -1, -1L)
      })
    }

  /** REAL audio resample: decimate every `factor`-th frame and re-encode as
    * WAV (blob→blob, the [[resizeImage]] contract for audio).
    */
  def resampleAudio(df: DataFrame, idCol: String, binCol: String,
      factor: Int): DataFrame =
    perRow(df, idCol, Seq(binCol), StructField("resampled", BinaryType)) { r =>
      Audio.decodeWav(r.getAs[Array[Byte]](0)).map { clip =>
        val d = Audio.decimate(clip, factor)
        Row(Audio.encodeWav(d.sampleRate, d.channels, d.samples))
      }
    }

  // ---- REAL video (Y4M via [[Video]]) --------------------------------------

  /** Deterministic 4:2:0 Y4M: scene s = f / 3 changes the whole law, so
    * frames within a scene are identical and scene boundaries are large
    * jumps — Y(f,x,y) = (7x + 13y + 97·s + seed) mod 256, chroma planes
    * constant (64 + s + seed) / (192 + 2s + seed) mod 256. Closed-form for
    * the SQL oracle; genuinely Y4M-encoded (header + FRAME markers).
    */
  def synthY4m(width: Int, height: Int, nFrames: Int, seed: Long): Array[Byte] = {
    require(width % 2 == 0 && height % 2 == 0, "4:2:0 needs even dims")
    val cSize = (width / 2) * (height / 2)
    val frames = (0 until nFrames).map { f =>
      val s = f / 3
      val y = new Array[Byte](width * height)
      for (yy <- 0 until height; xx <- 0 until width)
        y(yy * width + xx) = ((7L * xx + 13L * yy + 97L * s + seed) % 256).toByte
      val u = Array.fill(cSize)(((64L + s + seed) % 256).toByte)
      val v = Array.fill(cSize)(((192L + 2L * s + seed) % 256).toByte)
      Video.Frame(y, u, v)
    }
    Video.encodeY4m(width, height, 25, 1, frames)
  }

  /** Column form of [[synthY4m]] (batched partition pass). */
  def synthY4mCol(df: DataFrame, idCol: String, wCol: String, hCol: String,
      framesCol: String, seedCol: String): DataFrame =
    perRow(df, idCol, Seq(wCol, hCol, framesCol, seedCol),
        StructField("y4m", BinaryType)) { r =>
      Some(Row(synthY4m(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))))
    }

  /** Video metadata schema produced by [[decodeVideo]]. */
  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("fps_num", IntegerType),
    StructField("fps_den", IntegerType)))

  /** REAL video decode: container metadata per blob via the [[Video]] Y4M
    * codec; undecodable blobs yield (-1, …), never task failures.
    */
  def decodeVideo(df: DataFrame, idCol: String, binCol: String): DataFrame =
    perRow(df, idCol, Seq(binCol), VideoMetaSchema.fields.toSeq: _*) { r =>
      Some(Video.decodeY4m(r.getAs[Array[Byte]](0)) match {
        case Some(s) =>
          Row(s.width, s.height, s.frames.length, s.fpsNum, s.fpsDen)
        case None => Row(-1, -1, -1, -1, -1)
      })
    }

  /** REAL frame sampling + per-frame statistics: every `everyNth` frame
    * exploded to (id, frame_idx, y_sum) — the exact-integer per-frame
    * summary the oracle recomputes from the synthesis law.
    */
  def videoFrameLuma(df: DataFrame, idCol: String, binCol: String,
      everyNth: Int = 1): DataFrame = {
    require(everyNth >= 1, "everyNth must be >= 1")
    perRow(df, idCol, Seq(binCol), StructField("frame_idx", IntegerType),
        StructField("y_sum", LongType)) { r =>
      Video.decodeY4m(r.getAs[Array[Byte]](0)).toSeq.flatMap { s =>
        Video.frameLumaSums(s).collect {
          case (i, sum) if i % everyNth == 0 => Row(i, sum)
        }
      }
    }
  }

  /** REAL scene-cut detection per blob: (id, cut_frame) rows where the mean
    * absolute luma difference to the previous frame exceeds `threshold`.
    * Partition-local per blob — at 100 TB this is scan-shaped work with no
    * shuffle at all.
    */
  def videoSceneCuts(df: DataFrame, idCol: String, binCol: String,
      threshold: Int): DataFrame =
    perRow(df, idCol, Seq(binCol), StructField("cut_frame", IntegerType)) { r =>
      Video.decodeY4m(r.getAs[Array[Byte]](0)).toSeq
        .flatMap(s => Video.sceneCuts(s, threshold).map(Row(_)))
    }

  /** Metadata produced per blob by [[decodeBlobStub]]. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("byte_len", LongType),
    StructField("first_byte", IntegerType),
    StructField("last_byte", IntegerType),
    StructField("n_frames", LongType)))

  /** STUB decode for compressed AUDIO/VIDEO blobs (the one genuinely
    * env-limited modality — no ffmpeg/javacv in this container): the
    * metadata is a deterministic function of the raw bytes so tests and
    * oracles verify the plumbing end-to-end. "Frames" are 256-byte chunks
    * (the video frame-sampling analog). `df`'s first column is the id, its
    * second the blob; a null blob gives null metadata, as SQL's
    * `octet_length(NULL)` does.
    */
  def decodeBlobStub(df: DataFrame): DataFrame =
    perRow(df, df.columns(0), Seq(df.columns(1)),
        MetaSchema.fields.toSeq: _*) { r =>
      val bytes = r.getAs[Array[Byte]](0)
      Some(if (bytes == null) Row(null, null, null, null) else Row(
        bytes.length.toLong,
        if (bytes.nonEmpty) bytes(0) & 0xff else -1,
        if (bytes.nonEmpty) bytes(bytes.length - 1) & 0xff else -1,
        (bytes.length + 255L) / 256))
    }
}
