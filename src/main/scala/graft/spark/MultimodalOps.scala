package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode + feature-extract run as one
  * typed per-partition transform over the blob column (`extractFeatures`,
  * the `media_features` query).
  *
  * Image rows carry REAL PNG payloads (synthesized deterministically,
  * decoded with ImageIO on the executor) and audio rows REAL 16-bit PCM WAV
  * payloads (synthesized and decoded with javax.sound.sampled) — both paths
  * use the real JDK codec, not a stub. Video rides as a multi-frame animated
  * GIF (the closest in-JDK stand-in for a video container) decoded frame by
  * frame with the real JDK GIF reader. Each kind has one decoder, and
  * features for all three are computed from the DECODED pixels/samples. */
object MultimodalOps {

  /** ImageIO's stream factories are DISK-cache-backed by default: every
    * ImageIO.read / write / create*Stream call on an in-memory blob
    * allocates a temp FILE for buffering. For the small in-memory payloads
    * of this pipeline that is pure per-row filesystem overhead (measured
    * r06: ~5 ms/blob across encode+decode); memory-backed streams produce
    * byte-identical codec output. JVM-global, idempotent, applied lazily
    * from every codec entry point. */
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(doc_id: Long, media_ref: String, media_kind: String,
      blob: Array[Byte])
  final case class MediaFeatures(doc_id: Long, media_kind: String, blob_len: Long,
      width: Int, height: Int, n_frames: Int, sample_rate: Int, n_samples: Long,
      pix_sum: Long, feature: Seq[Float])

  /** Deterministic image dimensions per doc (SQL-predictable, so the DuckDB
    * oracle can verify the full encode→decode roundtrip). */
  def imgWidth(docId: Long): Int = (16 + docId % 32).toInt
  def imgHeight(docId: Long): Int = (16 + docId % 29).toInt

  /** Render a deterministic RGB PNG via the JDK encoder (ImageIO ships PNG/
    * JPEG/GIF/BMP in every JRE). Same inputs → byte-identical output. */
  def pngBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    imageIoNoDiskCache
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((seed * 31 + x * 7 + y * 13) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic audio parameters per doc (SQL-predictable, so the DuckDB
    * oracle verifies the WAV encode→decode roundtrip closed-form). */
  def audioSampleRate(docId: Long): Int = (8000 + (docId % 5) * 2000).toInt
  def audioNumSamples(docId: Long): Int = (400 + docId % 100).toInt

  /** Render a deterministic 16-bit mono PCM WAV via the JDK audio stack
    * (javax.sound.sampled ships WAV in every JRE — the real codec, like
    * ImageIO for PNG). Same inputs → byte-identical output. */
  def wavBytes(sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = (((seed * 31 + i * 7919) % 65536) - 32768).toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic frame count per video doc (SQL-predictable). */
  def videoFrames(docId: Long): Int = (1 + docId % 4).toInt

  /** Render a deterministic multi-frame animated GIF via the JDK encoder
    * (ImageIO ships a GIF writer with sequence support in every JRE). The
    * closest in-JDK stand-in for a real video container: one file, many
    * frames, decoded frame-by-frame. Same inputs → byte-identical output. */
  def gifBytes(w: Int, h: Int, nFrames: Int, seed: Long): Array[Byte] = {
    imageIoNoDiskCache
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, ((seed * 31 + f * 101 + x * 7 + y * 13) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Deterministic media table synthesized from documents.parquet: image
    * rows carry real PNG blobs, audio rows real 16-bit PCM WAV blobs, video
    * rows real multi-frame animated GIFs (all encoded executor-side in the
    * same typed map a production loader would use, all decoded back with the
    * real JDK codec). kind cycles image/audio/video. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // fanOut: the codec encode (and every decode downstream) is the heavy
    // per-row work of the multimodal path; a 1-split scan ran the whole
    // pass in a single task (guide §2.5 — measured 3.0 s exec, 1 task, r06)
    DocsTables.fanOut(DocsTables.documents(spark, sfDir))
      .select(col("doc_id"),
        concat(lit("blob://"), col("doc_id")).as("media_ref"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_kind"),
        col("text").cast("binary").as("blob"))
      .as[MediaRow]
      .mapPartitions(_.map { m =>
        if (m.media_kind == "image")
          m.copy(blob = pngBytes(imgWidth(m.doc_id), imgHeight(m.doc_id), m.doc_id))
        else if (m.media_kind == "audio")
          m.copy(blob = wavBytes(audioSampleRate(m.doc_id), audioNumSamples(m.doc_id), m.doc_id))
        else
          m.copy(blob = gifBytes(imgWidth(m.doc_id), imgHeight(m.doc_id),
            videoFrames(m.doc_id), m.doc_id))
      })
  }

  /** Shared pixel statistics over one or more decoded frames: channel means,
    * luma mean/std, horizontal-gradient mean, aspect — all over getRGB
    * values, identical code path for a single image and a frame stack.
    * Returns the 8-dim feature and pix_sum, the sum of the decoded
    * blue-channel bytes. */
  private def imageFeature(frames: Seq[java.awt.image.BufferedImage]): (Array[Float], Long) = {
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var sumLuma = 0L; var sumLuma2 = 0.0; var sumHDiff = 0L
    var n = 0L; var hDiffN = 0L
    val w = frames.head.getWidth; val h = frames.head.getHeight
    frames.foreach { img =>
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        var prevLuma = -1
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
          sumR += r; sumG += g; sumB += b
          val luma = (r * 299 + g * 587 + b * 114) / 1000
          sumLuma += luma; sumLuma2 += luma.toDouble * luma
          if (prevLuma >= 0) { sumHDiff += math.abs(luma - prevLuma); hDiffN += 1 }
          prevLuma = luma
          n += 1; x += 1
        }
        y += 1
      }
    }
    val meanLuma = sumLuma.toDouble / n
    val varLuma = sumLuma2 / n - meanLuma * meanLuma
    (Array[Float](
      (sumR.toDouble / n / 255.0).toFloat,
      (sumG.toDouble / n / 255.0).toFloat,
      (sumB.toDouble / n / 255.0).toFloat,
      (meanLuma / 255.0).toFloat,
      (math.sqrt(math.max(0.0, varLuma)) / 255.0).toFloat,
      (if (hDiffN == 0) 0.0 else sumHDiff.toDouble / hDiffN / 255.0).toFloat,
      w.toFloat / (w + h), h.toFloat / (w + h)), sumB)
  }

  /** Decode a WAV payload to its 16-bit signed PCM samples (little-endian
    * mono, the synth format). Returns (sampleRate, samples) or None. */
  private def decodePcm(blob: Array[Byte]): Option[(Int, Array[Int])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(blob))
      try {
        val bytes = ais.readAllBytes()
        val out = new Array[Int](bytes.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff))
          i += 1
        }
        Some((ais.getFormat.getSampleRate.toInt, out))
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Decode every frame of a GIF container to BufferedImages. Nil when not
    * decodable. */
  private def decodeFrames(blob: Array[Byte]): List[java.awt.image.BufferedImage] = {
    imageIoNoDiskCache
    try {
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(blob))
      try {
        reader.setInput(iis)
        val nf = reader.getNumImages(true)
        (0 until nf).map(reader.read).toList
      } finally { reader.dispose(); iis.close() }
    } catch { case _: java.io.IOException | _: IllegalArgumentException => Nil }
  }

  /** decode + feature-extract as one typed per-partition pass. Image rows go
    * through the real ImageIO decoder, audio rows through the real
    * javax.sound.sampled WAV decoder, video rows through the real JDK GIF
    * frame reader (dimensions + per-frame walk for n_frames). The feature
    * vector is pixel-space for ALL kinds: channel/luma
    * statistics over decoded pixels for image and per-frame video, PCM
    * sample statistics for audio — no encoded-byte arithmetic remains. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { iter =>
      iter.map { m =>
        // ONE decode per blob: metadata (dims / frame count / sample rate)
        // and pixel features both come from the same decoded object
        imageIoNoDiskCache
        m.media_kind match {
          case "image" =>
            val img = try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(m.blob))
              catch { case _: java.io.IOException => null }
            if (img == null)
              MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong, -2, -2, 1,
                -1, -1L, -2L, new Array[Float](8).toSeq)
            else {
              val (feat, pixSum) = imageFeature(Seq(img))
              MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong,
                img.getWidth, img.getHeight, 1, -1, -1L, pixSum, feat.toSeq)
            }
          case "video" =>
            decodeFrames(m.blob) match {
              case Nil =>
                MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong, -2, -2, -2,
                  -1, -1L, -2L, new Array[Float](8).toSeq)
              case frames =>
                val (feat, pixSum) = imageFeature(frames)
                MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong,
                  frames.head.getWidth, frames.head.getHeight, frames.length,
                  -1, -1L, pixSum, feat.toSeq)
            }
          case "audio" =>
            decodePcm(m.blob) match {
              case None =>
                MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong, -1, -1, 1,
                  -2, -2L, -2L, new Array[Float](8).toSeq)
              case Some((rate, pcm)) =>
                var sum = 0L; var sumAbs = 0L; var sumSq = 0.0
                var mn = Int.MaxValue; var mx = Int.MinValue; var zc = 0
                var i = 0
                while (i < pcm.length) {
                  val v = pcm(i)
                  sum += v; sumAbs += math.abs(v); sumSq += v.toDouble * v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  if (i > 0 && (pcm(i - 1) < 0) != (v < 0)) zc += 1
                  i += 1
                }
                val n = math.max(1, pcm.length)
                val feat = Array[Float](
                  (sum.toDouble / n / 32768.0).toFloat,
                  (sumAbs.toDouble / n / 32768.0).toFloat,
                  (math.sqrt(sumSq / n) / 32768.0).toFloat,
                  zc.toFloat / n,
                  mn / 32768.0f, mx / 32768.0f,
                  rate / 48000.0f,
                  (pcm.length / math.max(1.0, rate.toDouble)).toFloat)
                MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong, -1, -1, 1,
                  rate, pcm.length.toLong, sum, feat.toSeq)
            }
          case _ =>
            MediaFeatures(m.doc_id, m.media_kind, m.blob.length.toLong, -1, -1, 1,
              -1, -1L, -2L, new Array[Float](8).toSeq)
        }
      }
    }
  }

  /** Oracle-checkable projection: every non-sentinel value verifies a real
    * encode→JDK-decode roundtrip against a closed-form prediction —
    * width/height for image (PNG/ImageIO) AND video (GIF frame reader) rows,
    * n_frames for video rows (per-frame `getNumImages(true)` walk),
    * sample_rate/n_samples for audio (WAV/javax.sound) rows, and `pix_sum`,
    * the PIXEL-SPACE invariant: for image rows DuckDB re-derives the sum of
    * decoded blue-channel bytes from the synth formula (the blue byte of
    * pixel (x,y) is (seed*31+7x+13y) mod 256 and PNG roundtrips pixels
    * exactly), for audio rows the sum of decoded PCM samples (WAV is
    * lossless PCM). Both are exact INTEGER sums — no float comparison
    * hazard. Video pixel sums are real but GIF-palette-quantized
    * (encoder-defined, not closed-form), so the projection masks them to -1
    * on both sides; blob_len stays normalized out (no encode is
    * byte-predictable). */
  def mediaFeaturesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    extractFeatures(mediaTable(spark, sfDir))
      .toDF()
      .select(col("doc_id"), col("media_kind"),
        col("width").cast("long"), col("height").cast("long"),
        col("n_frames").cast("long"),
        col("sample_rate").cast("long"), col("n_samples").cast("long"),
        when(col("media_kind") === "video", lit(-1L))
          .otherwise(col("pix_sum")).as("pix_sum"))
  }

  val mediaFeaturesOracle: String =
    """SELECT doc_id,
      | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind,
      | CAST(CASE WHEN doc_id % 3 <> 1 THEN 16 + doc_id % 32 ELSE -1 END AS BIGINT) AS width,
      | CAST(CASE WHEN doc_id % 3 <> 1 THEN 16 + doc_id % 29 ELSE -1 END AS BIGINT) AS height,
      | CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 4 ELSE 1 END AS BIGINT) AS n_frames,
      | CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE -1 END AS BIGINT) AS sample_rate,
      | CAST(CASE WHEN doc_id % 3 = 1 THEN 400 + doc_id % 100 ELSE -1 END AS BIGINT) AS n_samples,
      | CAST(CASE
      |  WHEN doc_id % 3 = 0 THEN list_sum(list_transform(
      |    range(0, (16 + doc_id % 32) * (16 + doc_id % 29)),
      |    i -> (doc_id * 31 + (i % (16 + doc_id % 32)) * 7
      |          + (i // (16 + doc_id % 32)) * 13) % 256))
      |  WHEN doc_id % 3 = 1 THEN list_sum(list_transform(
      |    range(0, 400 + doc_id % 100),
      |    i -> (doc_id * 31 + i * 7919) % 65536 - 32768))
      |  ELSE -1 END AS BIGINT) AS pix_sum
      |FROM documents""".stripMargin
}
