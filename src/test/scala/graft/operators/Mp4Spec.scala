package graft.operators

import graft.SparkSpec

/** MP4 / ISO-BMFF box-level demux: the synthetic encoder writes spec-correct
  * container bytes whose attributes are closed-form, so every demuxed field
  * has an exact expected value (the same contract q64's DuckDB oracle
  * checks), and malformed bytes must degrade to None, never throw.
  */
class Mp4Spec extends SparkSpec {

  test("encode -> demux round-trips every container attribute exactly") {
    val sizes = Seq(100, 73, 89, 50, 121)
    val bytes = Mp4.encode(640, 360, sizes, sampleDeltaMs = 40)
    val Some(i) = Mp4.demux(bytes)
    assert(i.brand == "isom")
    assert(i.width == 640 && i.height == 360)
    assert(i.frames == 5)
    assert(i.durationMs == 200L) // 5 frames x 40 ms at timescale 1000
    assert(i.totalSampleBytes == sizes.sum.toLong)
    assert(i.sampleSizes.toSeq == sizes)
  }

  test("64-bit largesize box header parses (size==1 + u64 largesize)") {
    val bytes = Mp4.encode(32, 24, Seq(10, 20, 30))
    // rewrite the mdat box (at offset 20, right after ftyp) to the
    // largesize form: [1]['mdat'][u64 size] + body — demux must still walk
    // past it and read the moov that follows.
    val mdatAt = 20
    val mdatSize = ((bytes(mdatAt) & 0xff) << 24) | ((bytes(mdatAt + 1) & 0xff) << 16) |
      ((bytes(mdatAt + 2) & 0xff) << 8) | (bytes(mdatAt + 3) & 0xff)
    val big = new java.io.ByteArrayOutputStream()
    big.write(bytes, 0, mdatAt)
    big.write(Array[Byte](0, 0, 0, 1)) // size == 1 marker
    big.write(bytes, mdatAt + 4, 4)    // 'mdat'
    val newSize = mdatSize + 8L        // header grew by the 8-byte largesize
    big.write((0 until 8).map(s => ((newSize >>> (56 - 8 * s)) & 0xff).toByte).toArray)
    big.write(bytes, mdatAt + 8, bytes.length - mdatAt - 8) // body + moov
    val Some(i) = Mp4.demux(big.toByteArray)
    assert(i.frames == 3 && i.width == 32 && i.height == 24)
  }

  test("malformed payloads demux to None instead of throwing") {
    assert(Mp4.demux(null).isEmpty)
    assert(Mp4.demux(Array.empty[Byte]).isEmpty)
    assert(Mp4.demux(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)).isEmpty)
    val good = Mp4.encode(32, 24, Seq(10, 20, 30))
    // truncation at every prefix length: the parser must bounds-check every
    // box walk (moov is last, so all of these lose required structure)
    Seq(8, 16, 24, good.length / 2, good.length - 10).foreach { n =>
      assert(Mp4.demux(good.take(n)).isEmpty, s"prefix $n must not parse")
    }
    // flip the handler to non-video: no 'vide' track -> None
    val noVide = good.clone()
    val idx = indexOfSeq(noVide, "vide".getBytes("ISO-8859-1"))
    assert(idx > 0)
    noVide(idx) = 's'.toByte; noVide(idx + 1) = 'o'.toByte
    noVide(idx + 2) = 'u'.toByte; noVide(idx + 3) = 'n'.toByte
    assert(Mp4.demux(noVide).isEmpty)
  }

  test("stts/stsz cross-check rejects a sample-count mismatch") {
    val good = Mp4.encode(32, 24, Seq(10, 20, 30))
    // corrupt the stts sample_count (entry payload starts 8 bytes after the
    // box header; the single entry's count is the first u32)
    val at = indexOfSeq(good, "stts".getBytes("ISO-8859-1"))
    val bad = good.clone()
    bad(at + 4 + 8 + 3) = 9 // sample_count 3 -> 9
    assert(Mp4.demux(bad).isEmpty)
  }

  test("uniform-stsz shortcut (sample_size != 0) expands to the frame count") {
    val good = Mp4.encode(16, 16, Seq(77, 77, 77, 77))
    // rewrite stsz to the uniform form: sample_size=77, keep count=4, and
    // shrink the box by dropping the 16-byte per-sample table
    val at = indexOfSeq(good, "stsz".getBytes("ISO-8859-1"))
    val boxStart = at - 4
    val out = new java.io.ByteArrayOutputStream()
    out.write(good, 0, boxStart)
    out.write(Array[Byte](0, 0, 0, 20)) // 8 header + 12 body
    out.write("stsz".getBytes("ISO-8859-1"))
    out.write(Array[Byte](0, 0, 0, 0)) // version/flags
    out.write(Array[Byte](0, 0, 0, 77)) // uniform sample_size
    out.write(Array[Byte](0, 0, 0, 4)) // sample_count
    val rest = boxStart + 36 // skip the original 36-byte stsz box
    out.write(good, rest, good.length - rest)
    // fix enclosing box sizes (stbl/minf/mdia/trak/moov each shrank by 16)
    val bytes = out.toByteArray
    Seq("moov", "trak", "mdia", "minf", "stbl").foreach { k =>
      val i = indexOfSeq(bytes, k.getBytes("ISO-8859-1")) - 4
      val old = ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
        ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
      val v = old - 16
      bytes(i) = (v >>> 24).toByte; bytes(i + 1) = (v >>> 16).toByte
      bytes(i + 2) = (v >>> 8).toByte; bytes(i + 3) = v.toByte
    }
    val Some(i) = Mp4.demux(bytes)
    assert(i.frames == 4 && i.sampleSizes.toSeq == Seq(77, 77, 77, 77))
    assert(i.totalSampleBytes == 308L)
  }

  test("demuxTable matches the closed-form attributes over the synthetic table") {
    import spark.implicits._
    val got = Mp4.demuxTable(Mp4.syntheticMp4(spark, 60)).collect()
      .map(d => d.media_id -> d).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      val d = got(id)
      val frames = 3 + (id % 5).toInt
      assert(d.width == 16 + (id % 9).toInt, s"width id=$id")
      assert(d.height == 16 + (id % 7).toInt, s"height id=$id")
      assert(d.frames == frames, s"frames id=$id")
      assert(d.duration_ms == frames * 40L, s"duration id=$id")
      val expBytes = (0 until frames).map(f => 50L + (id * 13 + f * 7) % 40).sum
      assert(d.total_sample_bytes == expBytes, s"bytes id=$id")
    }
  }

  test("Multimodal video seam routes MP4 payloads through the demuxer") {
    val mp4 = Mp4.encode(48, 36, Seq(64, 64, 64, 64, 64, 64, 64))
    val gif = Multimodal.encodeGrayGif(12, 9, Seq(17, 250))
    val rows = spark.createDataFrame(Seq(
      (0L, "video", mp4), (1L, "video", gif), (2L, "video", Array[Byte](9, 9, 9))
    )).toDF("media_id", "kind", "payload")
    val got = Multimodal.decodeMedia(rows).collect().map(d => d.media_id -> d).toMap
    assert(got(0L).width == 48 && got(0L).height == 36 && got(0L).frames == 7 &&
      got(0L).duration_ms == 280L)
    assert(got(1L).width == 12 && got(1L).height == 9 && got(1L).frames == 2)
    assert(got(2L).width == 0 && got(2L).height == 0 && got(2L).frames == 0)
  }


  test("hostile stsz headers degrade to None, never a header-sized allocation") {
    def patchStsz(uniform: Long, count: Long): Array[Byte] = {
      val b = Mp4.encode(32, 24, Seq(10, 20, 30)).clone()
      val at = indexOfSeq(b, "stsz".getBytes("ISO-8859-1"))
      assert(at > 0)
      def putU32(off: Int, v: Long): Unit = {
        b(off) = ((v >>> 24) & 0xff).toByte; b(off + 1) = ((v >>> 16) & 0xff).toByte
        b(off + 2) = ((v >>> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
      }
      putU32(at + 8, uniform)  // sample_size (0 = per-sample table follows)
      putU32(at + 12, count)   // sample_count
      b
    }
    // allocation bomb: 16M uniform samples declared by a ~300-byte payload —
    // must return None BEFORE sizing any array off the header field
    assert(Mp4.demux(patchStsz(uniform = 1L, count = 0xffffffL)).isEmpty)
    // sign wrap: uniform size >= 2^31 must not become a negative Int feature
    assert(Mp4.demux(patchStsz(uniform = 0x80000000L, count = 3L)).isEmpty)
    // count past the u32 sanity cap
    assert(Mp4.demux(patchStsz(uniform = 1L, count = 0x10000001L)).isEmpty)
    // payload-unjustifiable totals: 3 × (2^31 - 1) ≈ 6.4 GB declared by a
    // ~300-byte blob must not flow into total_sample_bytes
    assert(Mp4.demux(patchStsz(uniform = 0x7fffffffL, count = 3L)).isEmpty)
  }

  private def indexOfSeq(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i + needle.length <= hay.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
