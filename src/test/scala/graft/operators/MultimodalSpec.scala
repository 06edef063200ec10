package graft.operators

import graft.SparkSpec

/** Real-codec multimodal decode: PNG via ImageIO, WAV via javax.sound, and
  * multi-frame GIF video via the ImageIO sequence reader are all lossless
  * for the synthetic payloads, so every decoded attribute has a closed form
  * in media_id (the same contract q57's DuckDB oracle checks).
  */
class MultimodalSpec extends SparkSpec {

  test("image decode recovers exact dimensions and gray level from real PNG bytes") {
    val png = Multimodal.encodeGrayPng(20, 13, 137)
    val Some((w, h, gray)) = Multimodal.decodeImage(png)
    assert(w == 20 && h == 13 && gray == 137)
  }

  test("image decode: alpha is not luminance, high bit depths and palettes normalize to 0..255") {
    import java.awt.image.BufferedImage
    def png(img: BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // opaque black RGBA: averaging the alpha band in would report gray ~64
    val argb = new BufferedImage(8, 8, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 8; x <- 0 until 8) argb.setRGB(x, y, 0xFF000000)
    val Some((_, _, gBlack)) = Multimodal.decodeImage(png(argb))
    assert(gBlack == 0, s"opaque black RGBA must decode to gray 0, got $gBlack")
    // 16-bit gray at full scale: samples reach 65535 and must rescale to 255
    val u16 = new BufferedImage(8, 8, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 8; x <- 0 until 8) u16.getRaster.setSample(x, y, 0, 65535)
    val Some((_, _, g16)) = Multimodal.decodeImage(png(u16))
    assert(g16 == 255, s"full-scale 16-bit gray must decode to 255, got $g16")
    // indexed PNG: raster samples are palette indices, not intensities —
    // palette slot 3 holds pure white, so the decoded gray must be 255
    val pal = {
      val c = Array.tabulate(4)(i => if (i == 3) 255.toByte else 0.toByte)
      new java.awt.image.IndexColorModel(2, 4, c, c, c)
    }
    val idx = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_INDEXED, pal)
    for (y <- 0 until 8; x <- 0 until 8) idx.getRaster.setSample(x, y, 0, 3)
    val Some((_, _, gIdx)) = Multimodal.decodeImage(png(idx))
    assert(gIdx == 255, s"indexed white must decode to gray 255, got $gIdx")
  }

  test("audio decode recovers exact duration and RMS from real WAV bytes") {
    val wav = Multimodal.encodeSquareWav(880, 1500)
    val Some((durMs, rms)) = Multimodal.decodeWav(wav)
    assert(durMs == 110L) // 880 samples @ 8 kHz
    assert(rms == 1500)   // square wave: RMS == amplitude exactly
  }

  test("video decode recovers exact frame count, dims and per-frame gray from real GIF bytes") {
    val grays = Seq(17, 250, 96, 0, 255)
    val gif = Multimodal.encodeGrayGif(12, 9, grays)
    val Some((w, h, n, feat)) = Multimodal.decodeGif(gif)
    assert(w == 12 && h == 9 && n == 5)
    assert(feat.length == 5)
    // gray palette is lossless: each frame's mean luminance is exactly gray/255
    grays.zip(feat).foreach { case (g, f) => assert(math.abs(f - g / 255f) < 1e-6f) }
  }

  test("decode kernels reject undecodable payloads instead of throwing") {
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    assert(Multimodal.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeWav(null).isEmpty)
    assert(Multimodal.decodeGif(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeGif(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeGif(null).isEmpty)
  }

  test("truncated payloads of a recognized format decode to None, and flow through " +
    "decodeMedia as zero attributes instead of failing the task") {
    // Truncation after the magic bytes is the dangerous case: the codec is
    // selected (so ImageIO.read does NOT return null) and then throws mid-parse.
    val png = Multimodal.encodeGrayPng(20, 13, 137)
    val wav = Multimodal.encodeSquareWav(880, 1500)
    val gif = Multimodal.encodeGrayGif(12, 9, Seq(17, 250))
    val badPng = png.take(png.length / 3)
    val badWav = wav.take(20) // inside the RIFF header — no format chunk yet
    val badGif = gif.take(gif.length / 3)
    assert(Multimodal.decodeImage(badPng).isEmpty)
    assert(Multimodal.decodeWav(badWav).isEmpty)
    assert(Multimodal.decodeGif(badGif).isEmpty)
    // WAV truncated mid-data is a GRACEFUL partial decode (header intact,
    // javax.sound reads the frames that exist) — the invariant is no-throw
    val partial = Multimodal.decodeWav(wav.take(wav.length / 3))
    assert(partial.forall(_._2 == 1500)) // whatever frames survive, RMS==amp
    // random garbage through every kernel too
    val noise = Array.tabulate(256)(i => ((i * 131 + 7) % 251).toByte)
    assert(Multimodal.decodeImage(noise).isEmpty)
    assert(Multimodal.decodeWav(noise).isEmpty)
    assert(Multimodal.decodeGif(noise).isEmpty)
    // end-to-end: a corrupt row inside a batch must not kill the job
    import org.apache.spark.sql.functions.{col, struct, lit}
    import spark.implicits._
    val rows = Seq((0L, "image", badPng), (1L, "audio", badWav), (2L, "video", badGif),
      (3L, "image", noise), (4L, "image", png))
    val df = rows.toDF("media_id", "kind", "payload")
      .withColumn("meta", struct(lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"), lit(null).cast("long").as("duration_ms"),
        lit(null).cast("string").as("mime")))
    val decoded = Multimodal.decodeMedia(df).collect().sortBy(_.media_id)
    assert(decoded.length == 5)
    (0 to 3).foreach { i =>
      val r = decoded(i)
      assert(r.width == 0 && r.height == 0 && r.gray == 0 && r.amp == 0 &&
        r.duration_ms == 0L && r.frames == 0)
    }
    assert(decoded(4).width == 20 && decoded(4).height == 13 && decoded(4).gray == 137)
  }

  test("decodeMedia matches the closed-form attribute formulas per kind") {
    val media = Multimodal.syntheticMedia(spark, 60)
    val got = Multimodal.decodeMedia(media).collect().sortBy(_.media_id)
    assert(got.length == 60)
    got.foreach { r =>
      (r.media_id % 3) match {
        case 0 =>
          assert(r.kind == "image")
          assert(r.width == 16 + (r.media_id % 17).toInt)
          assert(r.height == 16 + (r.media_id % 13).toInt)
          assert(r.gray == ((r.media_id * 37) % 256).toInt)
          assert(r.amp == 0 && r.duration_ms == 0L)
          assert(r.frames == 1)
        case 1 =>
          assert(r.kind == "audio")
          assert(r.amp == 1000 + (r.media_id % 50).toInt * 100)
          assert(r.duration_ms == 100L + (r.media_id % 5) * 10L)
          assert(r.width == 0 && r.height == 0 && r.gray == 0 && r.frames == 0)
        case _ =>
          assert(r.kind == "video")
          assert(r.width == 8 + (r.media_id % 9).toInt)
          assert(r.height == 8 + (r.media_id % 6).toInt)
          assert(r.frames == 2 + (r.media_id % 4).toInt)
          assert(r.gray == ((r.media_id * 31) % 256).toInt) // frame 0
          assert(r.amp == 0 && r.duration_ms == 0L)
      }
    }
  }
}
