package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column processing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-sized batches
  * (reference pipeline treats media as blob + metadata side-table).
  *
  * All three decode kernels are REAL, built only on JDK-public codecs:
  *   - image: `javax.imageio.ImageIO` (PNG/JPEG/BMP/GIF readers ship with
  *     every JDK) → width/height + mean gray level.
  *   - audio: `javax.sound.sampled.AudioSystem` (WAV/PCM) → duration + RMS
  *     amplitude.
  *   - video: payloads are sniffed at the container level — ISO-BMFF (MP4)
  *     payloads route through [[Mp4.demux]] (pure byte-level box parsing:
  *     dimensions, duration, frame count — the metadata a crawl pipeline
  *     partitions/filters on before any pixel decode); everything else
  *     tries the JDK GIF codec, which reads multi-frame sequences, giving a
  *     pixel-level temporal parse — frame count, dimensions, per-frame mean
  *     luminance. Pixel decode of MP4 needs an H.264/VP9 codec no JDK ships
  *     and stays behind the same seam.
  */
object Multimodal {

  // ImageIO's default ImageInputStream spools through a per-call temp FILE
  // cache — a disk write per decoded row. Payloads here are already in
  // memory, so force the heap-backed stream (once per JVM, on first use of
  // this object in an executor).
  ImageIO.setUseCache(false)

  /** Decoded per-row media attributes — integer-exact so the whole decode
    * path is DuckDB-oracle-checkable (q57): unused attributes are 0, never
    * NULL, keeping every column a plain int64 through parquet→pandas.
    * `gray` is the mean level of the image (or of the video's first frame);
    * `frames` is 1 for a still image, the frame count for video.
    */
  final case class MediaDecode(media_id: Long, kind: String, width: Int, height: Int,
                               gray: Int, amp: Int, duration_ms: Long, frames: Int)

  /** Real image decode via ImageIO: (width, height, rounded mean gray
    * level). None if the payload is not a decodable image.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    if (payload == null || payload.isEmpty) return None
    // try/catch like the other two kernels: ImageIO.read returns null for
    // unrecognized formats but THROWS on truncated/corrupt payloads of a
    // recognized format — at crawl scale one bad blob must not fail the task.
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) return None
      decodeImageImpl(img)
    } catch { case _: Exception => None }
  }

  private def decodeImageImpl(img: java.awt.image.BufferedImage): Option[(Int, Int, Int)] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val cm = img.getColorModel
    // Palette images (indexed PNG) sample palette INDICES, not intensities —
    // go through the color model per pixel like decodeGif does.
    val indexed = cm.isInstanceOf[java.awt.image.IndexColorModel]
    val raster = img.getRaster
    val bands = raster.getNumBands
    // Alpha is opacity, not luminance: averaging it in would lift an opaque
    // black RGBA pixel to gray ~64. Color bands only (alpha is the last band
    // by ColorModel contract).
    val colorBands = if (!indexed && cm.hasAlpha && bands > 1) bands - 1 else bands
    // Per-band rescale to the canonical 0..255 range: a 16-bit-per-channel
    // PNG samples up to 65535 and would push gray far outside its documented
    // range.
    val compSize = cm.getComponentSize
    val scale = Array.tabulate(colorBands) { b =>
      val bits = if (compSize != null && b < compSize.length) compSize(b) else 8
      if (bits == 8) 1.0 else 255.0 / ((1L << bits) - 1).toDouble
    }
    var total = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g =
          if (indexed) {
            val rgb = img.getRGB(x, y)
            (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
          } else {
            var s = 0.0
            var b = 0
            while (b < colorBands) { s += raster.getSampleDouble(x, y, b) * scale(b); b += 1 }
            s / colorBands
          }
        total += g
        x += 1
      }
      y += 1
    }
    Some((w, h, math.round(total / (w.toLong * h)).toInt))
  }

  /** Real audio decode via javax.sound (WAV/PCM 16-bit): (duration ms,
    * rounded global RMS amplitude). None if the payload is not decodable
    * audio.
    */
  def decodeWav(payload: Array[Byte]): Option[(Long, Int)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16) return None
      val bytes = in.readAllBytes()
      val channels = fmt.getChannels
      val frames = bytes.length / (2 * channels)
      if (frames == 0) return None
      val big = fmt.isBigEndian
      def sample(i: Int): Int = { // first channel of frame i
        val o = i * 2 * channels
        if (big) (bytes(o) << 8) | (bytes(o + 1) & 0xff)
        else (bytes(o + 1) << 8) | (bytes(o) & 0xff)
      }
      var sumsq = 0L
      var i = 0
      while (i < frames) {
        val v = sample(i).toLong
        sumsq += v * v
        i += 1
      }
      val durationMs = frames.toLong * 1000L / fmt.getSampleRate.toLong
      Some((durationMs, math.round(math.sqrt(sumsq.toDouble / frames)).toInt))
    } catch { case _: Exception => None }
  }

  /** Real video decode via the JDK's multi-frame GIF codec: (width, height,
    * frame count, per-frame mean luminance in [0,1] over the first
    * `maxFrames` frames). GIF is the one temporal container the JDK can both
    * read and write, so this path exercises a genuine container parse +
    * frame-sampled feature extraction; a production deployment swaps in an
    * MP4/WebM demuxer behind the same signature. None if not decodable.
    */
  def decodeGif(payload: Array[Byte], maxFrames: Int = 64): Option[(Int, Int, Int, Array[Float])] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val readers = ImageIO.getImageReadersByFormatName("gif")
      if (!readers.hasNext) return None
      val reader = readers.next()
      // Hold the stream so it can be closed: reader.dispose() does NOT close
      // its input, and a file-cache-backed ImageInputStream would leak a temp
      // file per row if ImageIO.setUseCache ever flips.
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      try {
        reader.setInput(iis, false, true)
        val n = reader.getNumImages(true)
        if (n <= 0) return None
        val grays = Array.tabulate(math.min(n, maxFrames)) { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          var total = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y) // palette-safe: go through the color model
              total += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          (total.toDouble / (3.0 * w * h) / 255.0).toFloat
        }
        Some((reader.getWidth(0), reader.getHeight(0), n, grays))
      } finally { reader.dispose(); iis.close() }
    } catch { case _: Exception => None }
  }

  /** Oracle-checkable decode surface (q57): runs the real codecs and emits
    * integer-exact attributes — image width/height/mean-gray, audio RMS
    * amplitude/duration — with 0 (not NULL) where a field does not apply to
    * the row's kind, so every column stays int64 end-to-end.
    */
  def decodeMedia(media: DataFrame): Dataset[MediaDecode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, kind, payload) =>
          kind match {
            case "image" =>
              val (w, h, g) = decodeImage(payload).getOrElse((0, 0, 0))
              MediaDecode(id, kind, w, h, g, 0, 0L, if (w > 0) 1 else 0)
            case "audio" =>
              val (d, a) = decodeWav(payload).getOrElse((0L, 0))
              MediaDecode(id, kind, 0, 0, 0, a, d, 0)
            case _ if Mp4.isIsoBmff(payload) =>
              Mp4.demux(payload) match {
                case Some(i) => MediaDecode(id, kind, i.width, i.height, 0, 0,
                  i.durationMs, i.frames)
                case None => MediaDecode(id, kind, 0, 0, 0, 0, 0L, 0)
              }
            case _ =>
              val (w, h, n, grays) = decodeGif(payload).getOrElse((0, 0, 0, Array.empty[Float]))
              val g0 = if (grays.nonEmpty) math.round(grays(0) * 255f) else 0
              MediaDecode(id, kind, w, h, g0, 0, 0L, n)
          }
        }
      }
  }

  /** Encode a solid-gray PNG (lossless: decode recovers every attribute
    * exactly — the closed-form contract q57's oracle relies on).
    */
  def encodeGrayPng(width: Int, height: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, gray); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // 256-level grayscale palette: GIF is indexed-color, so an explicit gray
  // IndexColorModel makes the encode→decode round trip lossless for gray
  // frames (index i IS gray level i).
  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** Encode a multi-frame solid-gray GIF — one frame per entry of
    * `frameGrays` (lossless for gray levels via the explicit gray palette,
    * so q57's video oracle is closed-form like the PNG/WAV ones).
    */
  def encodeGrayGif(width: Int, height: Int, frameGrays: Seq[Int]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameGrays.foreach { gray =>
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val raster = img.getRaster
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) { raster.setSample(x, y, 0, gray); x += 1 }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** Encode a 16-bit mono PCM WAV square wave (4 samples +amp, 4 samples
    * −amp): every sample is exactly ±amp, so global RMS == amp exactly and
    * nSamples % 8 == 0 keeps whole periods.
    */
  def encodeSquareWav(nSamples: Int, amp: Int, sampleRate: Float = 8000f): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = (if ((i / 4) % 2 == 0) amp else -amp).toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nSamples.toLong),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic synthetic media table for tests/benchmarks: REAL payload
    * bytes in all three kinds — PNG images, WAV audio, multi-frame GIF video
    * — that the decode kernels round-trip exactly. Attribute formulas are
    * closed-form in `media_id` so a SQL oracle can recompute them (q57):
    *   image: width 16+id%17, height 16+id%13, solid gray (id*37)%256
    *   audio: amp 1000+(id%50)*100, 800+(id%5)*80 samples @8kHz = 100+(id%5)*10 ms
    *   video: 2+id%4 frames of 8+id%9 × 8+id%6, frame f gray (id*31+f*17)%256
    */
  def syntheticMedia(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val rows = spark.range(n).map { id =>
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      kind match {
        case "image" =>
          val (w, h) = (16 + (id % 17).toInt, 16 + (id % 13).toInt)
          (id, kind, encodeGrayPng(w, h, ((id * 37) % 256).toInt),
            (Some(w), Some(h), None: Option[Long], Some("image/png")))
        case "audio" =>
          val samples = 800 + (id % 5).toInt * 80
          val durMs = samples.toLong * 1000L / 8000L
          (id, kind, encodeSquareWav(samples, 1000 + (id % 50).toInt * 100),
            (None: Option[Int], None: Option[Int], Some(durMs), Some("audio/wav")))
        case _ =>
          val frames = 2 + (id % 4).toInt
          val (w, h) = (8 + (id % 9).toInt, 8 + (id % 6).toInt)
          val grays = (0 until frames).map(f => ((id * 31 + f * 17) % 256).toInt)
          (id, kind, encodeGrayGif(w, h, grays),
            (Some(w), Some(h), Some(frames * 40L), Some("video/gif")))
      }
    }.toDF("media_id", "kind", "payload", "m")
    rows.select(col("media_id"), col("kind"), col("payload"),
      struct(col("m._1").as("width"), col("m._2").as("height"),
        col("m._3").as("duration_ms"), col("m._4").as("mime")).as("meta"))
  }
}
