package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal MP4 / ISO-BMFF (ISO/IEC 14496-12) demuxer — pure byte-level box
  * parsing, no codec. This is the production shape of the video seam the GIF
  * kernel stands in for in [[Multimodal]]: at crawl scale the expensive and
  * load-bearing step for video columns is CONTAINER metadata extraction
  * (dimensions, duration, frame count, per-sample byte sizes) used to
  * partition, filter and frame-sample BEFORE any pixel decode; the pixel
  * decode itself needs an H.264/VP9 codec no JDK ships, and stays behind the
  * same seam (reference analog: media rows carry blob + metadata side-table,
  * `/root/reference/src/event_dedup/models/event.py` raw_payload handling).
  *
  * Parsed boxes: `ftyp` (brand), `moov`/`mvhd` (movie timescale + duration),
  * `trak`/`tkhd` (track dims, 16.16 fixed), `mdia`/`mdhd`/`hdlr` (handler
  * kind), `stbl`/`stsz` (sample count + per-sample sizes) and `stts` (frame
  * count cross-check). 32- and 64-bit box sizes and v0/v1 full-box layouts
  * are both handled; anything malformed or truncated returns None — at
  * 100 TB one corrupt blob must degrade the row, never fail the task.
  */
object Mp4 {

  /** Demuxed container attributes for the first video (`vide` handler)
    * track. Integer-exact so the surface is DuckDB-oracle-checkable (q64).
    */
  final case class Mp4Info(brand: String, width: Int, height: Int,
                           durationMs: Long, frames: Int,
                           totalSampleBytes: Long)

  // ---- big-endian primitive readers (bounds-checked by callers) ----------
  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(Array(b(o), b(o + 1), b(o + 2), b(o + 3)), "ISO-8859-1")

  /** One parsed box: type + payload extent (header already skipped). */
  private final case class Box(kind: String, from: Int, until: Int)

  /** Iterate the boxes in [from, until); malformed sizing ends iteration. */
  private def boxes(b: Array[Byte], from: Int, until: Int): List[Box] = {
    val out = List.newBuilder[Box]
    var at = from
    var ok = true
    while (ok && at + 8 <= until) {
      val size0 = u32(b, at)
      val kind = fourcc(b, at + 4)
      val (header, size) =
        if (size0 == 1L && at + 16 <= until) (16, u64(b, at + 8))
        else if (size0 == 0L) (8, (until - at).toLong) // box runs to end
        else (8, size0)
      if (size < header || at + size > until || size > Int.MaxValue) ok = false
      else {
        out += Box(kind, at + header, at + size.toInt)
        at += size.toInt
      }
    }
    out.result()
  }

  private def child(b: Array[Byte], parent: Box, kind: String): Option[Box] =
    boxes(b, parent.from, parent.until).find(_.kind == kind)

  /** mvhd/mdhd share the (version, timescale, duration) layout modulo the
    * v1 64-bit times: returns (timescale, duration) or None if truncated.
    */
  private def timescaleDuration(b: Array[Byte], h: Box): Option[(Long, Long)] = {
    if (h.until - h.from < 4) return None
    val v = b(h.from) & 0xff
    if (v == 1) {
      if (h.until - h.from < 32) None
      else Some((u32(b, h.from + 20), u64(b, h.from + 24)))
    } else {
      if (h.until - h.from < 20) None
      else Some((u32(b, h.from + 12), u32(b, h.from + 16)))
    }
  }

  /** tkhd width/height: 16.16 fixed point at the end of the v0/v1 body. */
  private def tkhdDims(b: Array[Byte], h: Box): Option[(Int, Int)] = {
    if (h.until - h.from < 4) return None
    val v = b(h.from) & 0xff
    val o = h.from + (if (v == 1) 88 else 76)
    if (o + 8 > h.until) None
    else Some(((u32(b, o) >> 16).toInt, (u32(b, o + 4) >> 16).toInt))
  }

  /** Demux the first `vide`-handler track; None on anything malformed. */
  def demux(payload: Array[Byte]): Option[Mp4Info] = {
    if (payload == null || payload.length < 16) return None
    try {
      val top = boxes(payload, 0, payload.length)
      val brand = top.find(_.kind == "ftyp")
        .filter(f => f.until - f.from >= 4).map(f => fourcc(payload, f.from))
      val moov = top.find(_.kind == "moov")
      if (brand.isEmpty || moov.isEmpty) return None
      val (mvTs, mvDur) = child(payload, moov.get, "mvhd")
        .flatMap(timescaleDuration(payload, _)).getOrElse(return None)
      if (mvTs <= 0) return None
      val durationMs = mvDur * 1000L / mvTs

      // first track whose mdia/hdlr handler_type is 'vide'
      val videoTrak = boxes(payload, moov.get.from, moov.get.until)
        .filter(_.kind == "trak")
        .find { t =>
          child(payload, t, "mdia").flatMap(child(payload, _, "hdlr"))
            .exists(h => h.until - h.from >= 12 && fourcc(payload, h.from + 8) == "vide")
        }.getOrElse(return None)

      val (w, h) = child(payload, videoTrak, "tkhd")
        .flatMap(tkhdDims(payload, _)).getOrElse(return None)
      val stbl = child(payload, videoTrak, "mdia")
        .flatMap(child(payload, _, "minf")).flatMap(child(payload, _, "stbl"))
        .getOrElse(return None)

      // stsz: uniform-size shortcut field, else the per-sample table
      val stsz = child(payload, stbl, "stsz").getOrElse(return None)
      if (stsz.until - stsz.from < 12) return None
      val uniform = u32(payload, stsz.from + 4)
      val nSamples = u32(payload, stsz.from + 8)
      if (nSamples < 0 || nSamples > (1L << 24)) return None // sanity cap
      // Header fields are attacker/corruption-controlled: a sample size
      // >= 2^31 is corrupt, and a sum the payload can't hold fails the
      // total check below (2^24 samples × 2^31 bytes cannot overflow a Long)
      if (uniform > Int.MaxValue) return None
      val total: Long =
        if (uniform != 0L) uniform * nSamples
        else {
          if (stsz.from + 12 + 4L * nSamples > stsz.until) return None
          var sum = 0L
          var i = 0
          while (i < nSamples) {
            val v = u32(payload, stsz.from + 12 + 4 * i)
            if (v > Int.MaxValue) return None
            sum += v
            i += 1
          }
          sum
        }

      // stts cross-check: sum of sample_counts must equal the stsz count
      val sttsFrames = child(payload, stbl, "stts").flatMap { s =>
        if (s.until - s.from < 8) None
        else {
          val entries = u32(payload, s.from + 4)
          if (s.from + 8 + 8L * entries > s.until) None
          else Some((0L until entries).map(i => u32(payload, s.from + 8 + 8 * i.toInt)).sum)
        }
      }
      if (sttsFrames.exists(_ != nSamples)) return None

      // the declared sample bytes must fit in the payload (they live in
      // mdat): a 300-byte blob claiming terabytes of total_sample_bytes is
      // corrupt metadata, and downstream partitioning/frame-sampling
      // decisions key off this number
      if (total > payload.length) return None
      Some(Mp4Info(brand.get, w, h, durationMs, nSamples.toInt, total))
    } catch { case _: Exception => None }
  }

  /** True iff the payload leads with an ISO-BMFF `ftyp` box — the sniff the
    * [[Multimodal]] video seam uses to route MP4 vs GIF payloads.
    */
  def isIsoBmff(payload: Array[Byte]): Boolean =
    payload != null && payload.length >= 12 && fourcc(payload, 4) == "ftyp"

  // ---- encoder (tests/benchmarks): spec-correct minimal writer -----------

  private def box(kind: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 8)
    val size = body.length + 8
    out.write(Array[Byte]((size >>> 24).toByte, (size >>> 16).toByte,
      (size >>> 8).toByte, size.toByte))
    out.write(kind.getBytes("ISO-8859-1"))
    out.write(body)
    out.toByteArray
  }
  private def be32(v: Long): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] = Array[Byte]((v >>> 8).toByte, v.toByte)
  private def cat(parts: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  /** Encode a minimal valid single-video-track MP4: `ftyp` + `mdat` (the
    * samples, deterministic filler bytes) + `moov` with a spec-correct
    * v0 box chain (mvhd, tkhd, mdhd, hdlr 'vide', minimal VisualSampleEntry
    * stsd, stts at a fixed per-sample delta, per-sample stsz, single-chunk
    * stco). mdat-before-moov keeps the chunk offset closed-form.
    */
  def encode(width: Int, height: Int, sampleSizes: Seq[Int],
             sampleDeltaMs: Int = 40, timescale: Int = 1000): Array[Byte] = {
    val ftyp = box("ftyp", cat("isom".getBytes("ISO-8859-1"), be32(0),
      "isom".getBytes("ISO-8859-1")))
    val mdatBody = {
      val out = new ByteArrayOutputStream()
      sampleSizes.zipWithIndex.foreach { case (n, f) =>
        var j = 0
        while (j < n) { out.write((f * 31 + j) & 0xff); j += 1 }
      }
      out.toByteArray
    }
    val mdat = box("mdat", mdatBody)
    val n = sampleSizes.length
    val duration = n.toLong * sampleDeltaMs * timescale / 1000L

    val mvhd = box("mvhd", cat(be32(0), be32(0), be32(0), be32(timescale.toLong),
      be32(duration), be32(0x00010000L), be16(0x0100), be16(0),
      be32(0), be32(0),
      // identity matrix (9 × 32-bit fixed)
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
      be32(0), be32(0), be32(0), be32(0x40000000L),
      cat(Seq.fill(6)(be32(0)): _*), // pre_defined[6]
      be32(2))) // next_track_ID
    val tkhd = box("tkhd", cat(be32(7) /* v0 + enabled flags */, be32(0), be32(0),
      be32(1) /* track_ID */, be32(0), be32(duration),
      be32(0), be32(0), be16(0), be16(0), be16(0), be16(0),
      be32(0x00010000L), be32(0), be32(0), be32(0), be32(0x00010000L),
      be32(0), be32(0), be32(0), be32(0x40000000L),
      be32(width.toLong << 16), be32(height.toLong << 16)))
    val mdhd = box("mdhd", cat(be32(0), be32(0), be32(0),
      be32(timescale.toLong), be32(duration), be16(0x55c4) /* und */, be16(0)))
    val hdlr = box("hdlr", cat(be32(0), be32(0),
      "vide".getBytes("ISO-8859-1"), be32(0), be32(0), be32(0),
      Array[Byte](0))) // empty NUL name
    // minimal spec-shaped VisualSampleEntry ('mp4v'): 78-byte body
    val sampleEntry = box("mp4v", cat(
      Array.fill[Byte](6)(0), be16(1) /* data_reference_index */,
      be16(0), be16(0), cat(Seq.fill(3)(be32(0)): _*),
      be16(width), be16(height), be32(0x00480000L), be32(0x00480000L),
      be32(0), be16(1), Array.fill[Byte](32)(0), be16(24), be16(0xffff)))
    val stsd = box("stsd", cat(be32(0), be32(1), sampleEntry))
    val stts = box("stts", cat(be32(0), be32(1), be32(n.toLong),
      be32(sampleDeltaMs.toLong * timescale / 1000L)))
    val stsz = box("stsz", cat(be32(0), be32(0) /* non-uniform */, be32(n.toLong),
      cat(sampleSizes.map(s => be32(s.toLong)): _*)))
    // one chunk; its offset is the mdat payload start: ftyp (20 B) + header
    val stco = box("stco", cat(be32(0), be32(1), be32(ftyp.length + 8L)))
    val stsc = box("stsc", cat(be32(0), be32(1), be32(1), be32(n.toLong), be32(1)))
    val dref = box("dref", cat(be32(0), be32(1),
      box("url ", be32(1)))) // self-contained flag
    val dinf = box("dinf", dref)
    val vmhd = box("vmhd", cat(be32(1), be16(0), be16(0), be16(0), be16(0)))

    val stbl = box("stbl", cat(stsd, stts, stsc, stsz, stco))
    val minf = box("minf", cat(vmhd, dinf, stbl))
    val mdia = box("mdia", cat(mdhd, hdlr, minf))
    val trak = box("trak", cat(tkhd, mdia))
    val moov = box("moov", cat(mvhd, trak))
    cat(ftyp, mdat, moov)
  }

  /** Demuxed row surface for q64: integer-exact per-container attributes. */
  final case class Mp4Decode(media_id: Long, width: Int, height: Int,
                             duration_ms: Long, frames: Int, total_sample_bytes: Long)

  /** Run the demuxer over a binary `payload` column — same mapPartitions
    * batch shape as [[Multimodal.decodeMedia]]; undecodable rows emit zeros.
    */
  def demuxTable(media: DataFrame): Dataset[Mp4Decode] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          demux(payload) match {
            case Some(i) => Mp4Decode(id, i.width, i.height, i.durationMs,
              i.frames, i.totalSampleBytes)
            case None => Mp4Decode(id, 0, 0, 0L, 0, 0L)
          }
        }
      }
  }

  /** Deterministic synthetic MP4 table: every attribute closed-form in
    * media_id so a SQL oracle recomputes them from range() (q64):
    *   width 16+id%9, height 16+id%7, frames 3+id%5, 40 ms/frame,
    *   sample f size = 50 + (id*13 + f*7) % 40.
    */
  def syntheticMp4(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      val frames = 3 + (id % 5).toInt
      val sizes = (0 until frames).map(f => 50 + ((id * 13 + f * 7) % 40).toInt)
      (id, encode(16 + (id % 9).toInt, 16 + (id % 7).toInt, sizes))
    }.toDF("media_id", "payload")
  }
}
