package graft.multimodal

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL video path for the one codec pure JDK can handle: MJPEG-in-AVI,
  * where every frame is an independent JPEG inside a RIFF container —
  * parsed here chunk-by-chunk (no codec needed for the container) and
  * decoded per frame by `javax.imageio` through [[Images.decode]]. This
  * turns the video column from "SPI + deterministic stub" into a working
  * end-to-end path: probe, frame sampling, and feature extraction all run
  * on real bytes, and [[MjpegAviDecoder]] plugs into the exact
  * [[Multimodal.MediaDecoder]] SPI a production codec would, so swapping
  * in an H.264 stack later changes one class name, not the plumbing.
  *
  * Container coverage: RIFF 'AVI ' with an 'hdrl' LIST carrying the
  * 'avih' main header (frame geometry + timing) and a 'movi' LIST whose
  * '..dc'/'..db' chunks carry the JPEG streams — the classic MJPEG layout
  * every camera/ffmpeg `-c:v mjpeg` file uses. Junk payloads parse to
  * zero frames, never a task failure (a crawl's video column always
  * carries junk).
  */
object Video {

  /** Parsed AVI facts: main-header geometry/timing + (offset, length)
    * spans of the JPEG frame chunks inside the retained payload — frames
    * copy out LAZILY per index, so a count-only probe never duplicates
    * the payload's frame bytes.
    */
  final case class AviInfo(width: Int, height: Int, microSecPerFrame: Long,
                           totalFrames: Int, frameSpans: Vector[(Int, Int)],
                           payload: Array[Byte]) {
    def nFrames: Int = frameSpans.length
    def frame(i: Int): Array[Byte] = {
      val (off, len) = frameSpans(i)
      java.util.Arrays.copyOfRange(payload, off, off + len)
    }
    def frames: Vector[Array[Byte]] = frameSpans.indices.map(frame).toVector

    /** Junk avih headers (u32 microSecPerFrame near 2^32 × clamped frame
      * counts) can overflow the product; clamp to Long.MaxValue and floor
      * at 0 rather than surfacing a negative duration for garbage input.
      */
    def durationMs: Long = {
      val n = if (totalFrames > 0) totalFrames else nFrames
      val product =
        try Math.multiplyExact(microSecPerFrame, n.toLong)
        catch { case _: ArithmeticException => Long.MaxValue }
      Math.max(0L, product / 1000L)
    }
  }

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def fourCC(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Nested-LIST descent bound: real AVIs nest 2-3 deep (RIFF → hdrl/movi
    * → strl/rec); a payload of nothing but LIST headers must not grow the
    * stack (junk never fails a task).
    */
  private val MaxListDepth = 16

  /** Parse an AVI payload; None when the bytes are not a RIFF/AVI
    * container. Frame chunks are recognized by the standard stream-data
    * FourCC shape `NNdc`/`NNdb` and a JPEG SOI marker, so index ('idx1')
    * and audio ('NNwb') chunks are skipped. Every read is bounded by the
    * bytes ACTUALLY remaining (never the declared chunk size), so a
    * truncated or corrupt payload parses to whatever is recoverable
    * instead of failing the task.
    */
  def parseAvi(payload: Array[Byte]): Option[AviInfo] = {
    if (payload == null || payload.length < 12) return None
    if (fourCC(payload, 0) != "RIFF" || fourCC(payload, 8) != "AVI ") return None
    var width = 0; var height = 0; var uspf = 0L; var total = 0
    val spans = Vector.newBuilder[(Int, Int)]
    def isFrameId(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        id(2) == 'd' && (id(3) == 'c' || id(3) == 'b')
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var off = from
      while (off + 8 <= to) {
        val id = fourCC(payload, off)
        // size is an UNSIGNED u32 — keep it a Long end to end (an Int
        // truncation of a >= 2^31 junk size goes negative: a stalled or
        // backwards scan offset, i.e. an infinite loop or AIOOBE)
        val size = u32(payload, off + 4)
        val dataStart = off + 8
        // bound by the bytes actually present, never the declared size
        val dataEnd = math.min(dataStart.toLong + size, to.toLong).toInt
        val avail = dataEnd - dataStart
        id match {
          case "LIST" if avail >= 4 && depth < MaxListDepth =>
            walk(dataStart + 4, dataEnd, depth + 1) // skip the 4-byte list type
          case "avih" if avail >= 40 =>
            // clamp, don't truncate: a junk header's unsigned u32 >= 2^31
            // must not surface as a negative width/height/frame count
            def clamped(off: Int): Int =
              math.min(u32(payload, off), Int.MaxValue.toLong).toInt
            uspf = u32(payload, dataStart)
            total = clamped(dataStart + 16)
            width = clamped(dataStart + 32)
            height = clamped(dataStart + 36)
          case fid if isFrameId(fid) && avail >= 2 &&
              (payload(dataStart) & 0xff) == 0xff &&
              (payload(dataStart + 1) & 0xff) == 0xd8 => // JPEG SOI
            spans += ((dataStart, avail))
          case _ => ()
        }
        val next = dataStart.toLong + size + (size & 1L) // chunks pad to even
        if (next > to) return // corrupt/truncated size: stop, keep what we have
        off = next.toInt
      }
    }
    walk(12, payload.length, 0)
    Some(AviInfo(width, height, uspf, total, spans.result(), payload))
  }

  /** Evenly sample up to `n` of `total` indices — first frame always
    * included, deterministic.
    */
  private[multimodal] def sampleIndices(total: Int, n: Int): Seq[Int] =
    if (total <= 0 || n <= 0) Seq.empty
    else if (total <= n) 0 until total
    else (0 until n).map(i => i * total / n)

  val probeSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("decodable", BooleanType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType)))

  /** Real container probe over (id, payload): geometry and timing from the
    * 'avih' header, frame count from the actual 'movi' chunks —
    * `decodable=false` (zeros) for junk instead of a task failure. Narrow
    * per-partition map, no shuffle.
    */
  def probeVideos(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        // null ids are tolerated like junk payloads — a crawl column's
        // defects must never fail the probe task
        val id: Any = if (r.isNullAt(0)) null else r.getLong(0)
        parseAvi(r.getAs[Array[Byte]](1)) match {
          case Some(info) if info.nFrames > 0 =>
            Row(id, true, info.width, info.height, info.nFrames, info.durationMs)
          case _ => Row(id, false, 0, 0, 0, 0L)
        }
      }
    }
    spark.createDataFrame(rdd, probeSchema)
  }

  /** Minimal deterministic MJPEG AVI writer — the fixture/export
    * complement of [[parseAvi]] (RIFF → hdrl(avih, strl(strh, strf)) →
    * movi('00dc' JPEG...)), enough container for this parser, ffmpeg, and
    * media players alike. Frames must already be JPEG bytes.
    */
  def writeAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
               fps: Int = 10): Array[Byte] = {
    require(fps > 0, s"bad fps=$fps")
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(id.getBytes("US-ASCII")); out.write(le32(data.length))
      out.write(data)
      if ((data.length & 1) == 1) out.write(0) // even padding
      out.toByteArray
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    val uspf = 1000000L / fps
    val maxBytes = if (frames.isEmpty) 0L else frames.map(_.length.toLong).max
    val avih = le32(uspf) ++ le32(maxBytes * fps) ++ le32(0) ++ le32(0x10) ++
      le32(frames.length.toLong) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width.toLong) ++ le32(height.toLong) ++ Array.fill(16)(0.toByte)
    val strh = "vids".getBytes("US-ASCII") ++ "MJPG".getBytes("US-ASCII") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(1) ++ le32(fps.toLong) ++
      le32(0) ++ le32(frames.length.toLong) ++ le32(maxBytes) ++
      le32(0xffffffffL) ++ le32(0) ++ Array.fill(8)(0.toByte)
    val strf = le32(40) ++ le32(width.toLong) ++ le32(height.toLong) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++
      "MJPG".getBytes("US-ASCII") ++ le32(width.toLong * height * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    // linear assembly — a foldLeft of Array ++ Array would re-copy the
    // accumulated prefix once per frame (quadratic in total bytes)
    val moviBody = new ByteArrayOutputStream()
    frames.foreach(f => moviBody.write(chunk("00dc", f)))
    val movi = list("movi", moviBody.toByteArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
  }
}

/** The first REAL in-tree [[Multimodal.MediaDecoder]]: MJPEG-in-AVI via
  * pure JDK (`javax.imageio` per frame). `frames(payload, n)` returns up
  * to `n` evenly-sampled raw JPEG frames; `features(payload, dim)` is the
  * mean `dim`-bin luminance histogram over up to 4 sampled frames — the
  * video analog of [[Images.lumaHistogram]], so video features land in
  * the same space as image features and compose with the same downstream
  * ANN/dedup. Junk payloads yield zero frames / the zero vector.
  */
final class MjpegAviDecoder extends Multimodal.MediaDecoder {

  override def frames(payload: Array[Byte], n: Int): Seq[Array[Byte]] =
    Video.parseAvi(payload) match {
      case Some(info) =>
        // copy ONLY the sampled frames' bytes out of the payload
        Video.sampleIndices(info.nFrames, n).map(info.frame)
      case None => Seq.empty
    }

  override def features(payload: Array[Byte], dim: Int): Array[Float] = {
    val sampled = frames(payload, 4)
    val out = new Array[Float](dim)
    if (sampled.nonEmpty) {
      sampled.foreach { f =>
        val h = Images.lumaHistogram(f, dim)
        var i = 0
        while (i < dim) { out(i) += h(i); i += 1 }
      }
      var i = 0
      while (i < dim) { out(i) /= sampled.length; i += 1 }
    }
    out
  }
}
