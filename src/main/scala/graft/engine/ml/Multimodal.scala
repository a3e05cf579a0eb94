package graft.engine.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.10 north star): media travel
  * as opaque `binary` columns plus a typed metadata struct; decode /
  * feature-extraction / resize / frame-sampling run as partition-local
  * batch transforms.
  *
  * All three media codecs are REAL byte-level implementations — none
  * needs an external library: [[WavCodec]] parses RIFF/WAVE PCM16 with
  * a chunk-walking RIFF parse (r11, hardened r12), [[BmpCodec]] parses
  * uncompressed 24-bit BMP (r12; javax.imageio independent-decoder
  * gate), and [[AviCodec]] parses uncompressed-DIB AVI containers
  * (r12). Only [[FakeCodec]] remains as an honestly-labeled
  * deterministic stand-in for the generic feature-vector seam
  * (`extractFeatures`) — swap it for a JNI/library codec and that
  * pipeline is production; the schema, encoders and partition-local
  * batching around it are the real Spark shape.
  *
  * Scale notes: `mapPartitions` keeps the (expensive) codec amortized
  * per-batch, media bytes never shuffle (features are extracted before
  * any wide operation), and the binary column stays prunable — plans
  * that don't touch `media` never read those parquet pages.
  */
object Multimodal {

  case class MediaMeta(format: String, width: Int, height: Int,
      durationMs: Long)
  case class MediaRow(media_id: Long, media: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, byte_len: Int,
      checksum: Long, features: Array[Float])
  case class FrameRow(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB codec — deterministic stand-in for a real image/audio decoder.
    * Derives a checksum and a fixed-width feature vector purely from the
    * bytes, so tests are reproducible anywhere. */
  object FakeCodec {
    val FeatureDim = 8
    def checksum(bytes: Array[Byte]): Long =
      bytes.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    def decode(bytes: Array[Byte]): Array[Float] = {
      val f = new Array[Float](FeatureDim)
      var i = 0
      while (i < bytes.length) {
        f(i % FeatureDim) += (bytes(i) & 0xff) / 255.0f
        i += 1
      }
      f
    }
  }

  /** Wrap raw byte rows into the canonical multimodal schema. */
  def asMediaTable(spark: SparkSession, rows: Seq[MediaRow]): Dataset[MediaRow] = {
    import spark.implicits._
    spark.createDataset(rows)
  }

  /** Feature extraction: partition-local batch decode. The codec is
    * invoked once per row inside mapPartitions — with a real library this
    * is where you'd batch rows into the codec's native batch size. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        MediaFeatures(r.media_id, r.media.length,
          FakeCodec.checksum(r.media), FakeCodec.decode(r.media))
      }
    }
  }

  /** Frame sampling: every `stride`-th fixed-size window of the payload
    * becomes a "frame" (stand-in for video frame extraction). */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int,
      stride: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.media.grouped(frameSize).zipWithIndex.collect {
        case (chunk, idx) if idx % stride == 0 =>
          FrameRow(r.media_id, idx, chunk)
      }
    }
  }

  /** REAL byte-level audio codec (round-11: the one family member that
    * is NOT a stub — no external library needed because canonical
    * RIFF/WAVE PCM16 is a 44-byte header + little-endian samples).
    * [[WavCodec.encodePcm16]] emits a spec-conformant WAV file;
    * [[WavCodec.decodePcm16]] parses one back by reading the actual
    * header fields and sample bytes — so a wrong endianness, offset or
    * chunk length breaks the decode, unlike the FakeCodec path. The
    * JDK's own javax.sound parser accepts the encoded bytes
    * (independent-decoder golden gate in MultimodalWavSpec). */
  object WavCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    case class Decoded(ok: Boolean, sampleRate: Int, channels: Int,
        bits: Int, samples: Array[Short])

    def encodePcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = ByteBuffer.allocate(44 + dataLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII"))
      bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII"))
      bb.putInt(16) // PCM fmt chunk length
      bb.putShort(1) // audio format 1 = PCM
      bb.putShort(1) // channels
      bb.putInt(sampleRate)
      bb.putInt(sampleRate * 2) // byte rate = rate * block align
      bb.putShort(2) // block align (mono 16-bit)
      bb.putShort(16) // bits per sample
      bb.put("data".getBytes("US-ASCII"))
      bb.putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    /** Chunk-walking RIFF parse (ADVICE r11): any spec-valid mono
      * PCM16 WAV decodes — extra chunks (LIST/fact/cue), a
      * WAVE_FORMAT_EXTENSIBLE-length fmt chunk, and trailing metadata
      * after `data` are all walked past rather than rejected, so the
      * codec is safe on external bytes, not just its own canonical
      * output. Canonical 44-byte-header files take the same path and
      * decode bit-identically (the `multimodal_wav_decode` oracle hash
      * is unchanged). Chunks are 4-byte tag + 4-byte LE size + payload
      * padded to an even offset, per the RIFF spec. */
    def decodePcm16(bytes: Array[Byte]): Decoded = {
      def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
      if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
        return Decoded(ok = false, 0, 0, 0, Array.empty)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      var fmt = 0; var channels = 0; var rate = 0; var bits = 0
      var sawFmt = false
      var dataOff = -1; var dataLen = -1
      var off = 12
      while (off + 8 <= bytes.length && (dataOff < 0 || !sawFmt)) {
        val t = tag(off)
        val len = bb.getInt(off + 4)
        // Long arithmetic: a crafted len near Int.MaxValue must fail
        // the bounds check, not wrap it (code-review r12)
        if (len < 0 || off + 8L + len > bytes.length)
          return Decoded(ok = false, rate, channels, bits, Array.empty)
        if (t == "fmt " && len >= 16) {
          fmt = bb.getShort(off + 8)
          channels = bb.getShort(off + 10)
          rate = bb.getInt(off + 12)
          bits = bb.getShort(off + 22)
          sawFmt = true
        } else if (t == "data" && dataOff < 0) {
          dataOff = off + 8
          dataLen = len
        }
        off += 8 + len + (len & 1) // RIFF pads chunks to even offsets
      }
      if (!sawFmt || dataOff < 0 || fmt != 1 || bits != 16 ||
          channels != 1 || dataLen % 2 != 0)
        return Decoded(ok = false, rate, channels, bits, Array.empty)
      val out = new Array[Short](dataLen / 2)
      var i = 0
      while (i < out.length) {
        out(i) = bb.getShort(dataOff + 2 * i)
        i += 1
      }
      Decoded(ok = true, rate, channels, bits, out)
    }
  }

  /** REAL byte-level image codec (round 12 — the WavCodec discipline
    * applied to images): uncompressed 24-bit BMP needs no external
    * library, just the 14-byte BITMAPFILEHEADER + 40-byte
    * BITMAPINFOHEADER + bottom-up BGR pixel rows padded to 4-byte
    * boundaries. [[BmpCodec.encodeBgr24]] emits a spec-conformant BMP;
    * [[BmpCodec.decodeBgr24]] parses one back by reading the actual
    * header fields (signature, pixel-array offset, dimensions, bpp,
    * compression) and un-flipping the bottom-up row order — so a wrong
    * offset, stride, padding or channel order breaks the decode. The
    * JDK's own javax.imageio BMP reader accepts the encoded bytes and
    * returns identical pixels (independent-decoder golden gate in
    * MultimodalBmpSpec). This replaces [[FakeCodec]] for the still-image
    * path; only video remains a stub. */
  object BmpCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** Pixels are packed 0xRRGGBB, row-major, y = 0 at the TOP (the
      * natural raster order); the codec owns the bottom-up flip. */
    case class DecodedImg(ok: Boolean, width: Int, height: Int,
        pixels: Array[Int])

    private def rowSize(width: Int): Int = (3 * width + 3) & ~3

    def encodeBgr24(width: Int, height: Int,
        pixels: Array[Int]): Array[Byte] = {
      require(pixels.length == width * height, "pixel count mismatch")
      val stride = rowSize(width)
      val dataLen = stride * height
      val bb = ByteBuffer.allocate(54 + dataLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte)
      bb.putInt(54 + dataLen) // file size
      bb.putShort(0).putShort(0) // reserved
      bb.putInt(54) // pixel-array offset
      bb.putInt(40) // BITMAPINFOHEADER size
      bb.putInt(width)
      bb.putInt(height) // positive = bottom-up row order
      bb.putShort(1) // planes
      bb.putShort(24) // bits per pixel
      bb.putInt(0) // BI_RGB (uncompressed)
      bb.putInt(dataLen)
      bb.putInt(2835).putInt(2835) // 72 dpi in pixels/metre
      bb.putInt(0).putInt(0) // palette size / important colors
      var y = height - 1
      while (y >= 0) { // bottom row first
        var x = 0
        while (x < width) {
          val p = pixels(y * width + x)
          bb.put((p & 0xff).toByte) // B
          bb.put(((p >> 8) & 0xff).toByte) // G
          bb.put(((p >> 16) & 0xff).toByte) // R
          x += 1
        }
        var pad = stride - 3 * width
        while (pad > 0) { bb.put(0.toByte); pad -= 1 }
        y -= 1
      }
      bb.array()
    }

    def decodeBgr24(bytes: Array[Byte]): DecodedImg = {
      if (bytes.length < 54 || bytes(0) != 'B'.toByte ||
          bytes(1) != 'M'.toByte)
        return DecodedImg(ok = false, 0, 0, Array.empty)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val fileSize = bb.getInt(2)
      val pixOff = bb.getInt(10)
      val hdrSize = bb.getInt(14)
      val width = bb.getInt(18)
      val height = bb.getInt(22)
      val planes = bb.getShort(26)
      val bpp = bb.getShort(28)
      val compression = bb.getInt(30)
      if (fileSize != bytes.length || hdrSize != 40 || planes != 1 ||
          bpp != 24 || compression != 0 || width <= 0 || height <= 0 ||
          pixOff < 54)
        return DecodedImg(ok = false, width, height, Array.empty)
      // Long arithmetic throughout (mirrors AviCodec.decodeDib24): a
      // crafted width >= ~716M wraps 3*width negative in Int, which
      // would slip past an Int-stride bounds check and then throw
      // uncaught on the pixel reads / allocation below.
      val strideL = (3L * width + 3) / 4 * 4
      if (pixOff.toLong + strideL * height > bytes.length ||
          width.toLong * height > Int.MaxValue)
        return DecodedImg(ok = false, width, height, Array.empty)
      val stride = strideL.toInt
      val out = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        val rowOff = pixOff + (height - 1 - y) * stride // un-flip
        var x = 0
        while (x < width) {
          val o = rowOff + 3 * x
          out(y * width + x) = ((bytes(o + 2) & 0xff) << 16) |
            ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)
          x += 1
        }
        y += 1
      }
      DecodedImg(ok = true, width, height, out)
    }
  }

  /** REAL byte-level video codec (round 12 — the third member of the
    * WavCodec/BmpCodec family, closing the video-stub gap): an
    * uncompressed-DIB AVI needs no external library either — it is a
    * nested RIFF container ('RIFF…AVI ' → LIST hdrl {avih, LIST strl
    * {strh, strf}} → LIST movi {'00db' frames} → idx1) whose frames
    * are exactly BMP pixel arrays without the file header (bottom-up
    * BGR24 rows, 4-byte-padded). [[AviCodec.encodeDib24]] emits the
    * full container including the frame index; [[AviCodec.decodeDib24]]
    * walks the actual chunk tree — reads dimensions and frame count
    * from the avih header it finds, collects each '00db' chunk in movi
    * order, un-flips rows — so a wrong LIST nesting, stride, frame
    * order or chunk length breaks the decode. No JDK AVI reader exists
    * for an independent-decoder gate (unlike WAV/WAV's javax.sound and
    * BMP's javax.imageio), so the spec compensates with tamper tests
    * on every header field and a frame-content round-trip against
    * independently-generated pixels (MultimodalBmpSpec). */
  object AviCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** Frames are BmpCodec-convention pixel arrays: packed 0xRRGGBB,
      * row-major, y = 0 at the top. */
    case class DecodedVid(ok: Boolean, width: Int, height: Int,
        frames: Array[Array[Int]])

    private def rowSize(width: Int): Int = (3 * width + 3) & ~3

    def encodeDib24(width: Int, height: Int, frames: Array[Array[Int]],
        fps: Int = 10): Array[Byte] = {
      require(frames.nonEmpty && frames.forall(_.length == width * height))
      // rcFrame is written as Shorts below; without this bound a
      // >32767 dimension silently wraps in the emitted header (decode
      // ignores rcFrame, so round-trip would mask the corruption for
      // external consumers).
      require(width > 0 && height > 0 &&
        width <= Short.MaxValue && height <= Short.MaxValue,
        s"encodeDib24 dimensions out of range: ${width}x$height")
      val stride = rowSize(width)
      val frameLen = stride * height
      val nF = frames.length
      val moviLen = 4 + nF * (8 + frameLen) // 'movi' + frame chunks
      val idxLen = 16 * nF
      val hdrlLen = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen) + (8 + idxLen)
      val bb = ByteBuffer.allocate(8 + riffLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
      fourcc("RIFF"); bb.putInt(riffLen); fourcc("AVI ")
      // ---- LIST hdrl
      fourcc("LIST"); bb.putInt(hdrlLen); fourcc("hdrl")
      fourcc("avih"); bb.putInt(56)
      bb.putInt(1000000 / fps) // dwMicroSecPerFrame
      bb.putInt(frameLen * fps) // dwMaxBytesPerSec
      bb.putInt(0) // dwPaddingGranularity
      bb.putInt(0x10) // dwFlags = AVIF_HASINDEX
      bb.putInt(nF) // dwTotalFrames
      bb.putInt(0) // dwInitialFrames
      bb.putInt(1) // dwStreams
      bb.putInt(frameLen) // dwSuggestedBufferSize
      bb.putInt(width); bb.putInt(height)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0) // reserved
      // ---- LIST strl
      fourcc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); fourcc("strl")
      fourcc("strh"); bb.putInt(56)
      fourcc("vids"); fourcc("DIB ")
      bb.putInt(0) // dwFlags
      bb.putShort(0); bb.putShort(0) // wPriority, wLanguage
      bb.putInt(0) // dwInitialFrames
      bb.putInt(1); bb.putInt(fps) // dwScale / dwRate = frame rate
      bb.putInt(0) // dwStart
      bb.putInt(nF) // dwLength (in frames)
      bb.putInt(frameLen) // dwSuggestedBufferSize
      bb.putInt(-1) // dwQuality (default)
      bb.putInt(0) // dwSampleSize
      bb.putShort(0); bb.putShort(0) // rcFrame left, top
      bb.putShort(width.toShort); bb.putShort(height.toShort)
      fourcc("strf"); bb.putInt(40) // BITMAPINFOHEADER
      bb.putInt(40); bb.putInt(width); bb.putInt(height)
      bb.putShort(1); bb.putShort(24)
      bb.putInt(0) // BI_RGB
      bb.putInt(frameLen)
      bb.putInt(2835); bb.putInt(2835); bb.putInt(0); bb.putInt(0)
      // ---- LIST movi
      fourcc("LIST"); bb.putInt(moviLen); fourcc("movi")
      val frameOffsets = new Array[Int](nF)
      frames.zipWithIndex.foreach { case (px, f) =>
        frameOffsets(f) = bb.position() - 0 // absolute; rebased below
        fourcc("00db"); bb.putInt(frameLen)
        var y = height - 1
        while (y >= 0) { // bottom row first, exactly like BMP
          var x = 0
          while (x < width) {
            val p = px(y * width + x)
            bb.put((p & 0xff).toByte)
            bb.put(((p >> 8) & 0xff).toByte)
            bb.put(((p >> 16) & 0xff).toByte)
            x += 1
          }
          var pad = stride - 3 * width
          while (pad > 0) { bb.put(0.toByte); pad -= 1 }
          y -= 1
        }
      }
      // ---- idx1 (offsets relative to the 'movi' fourcc, the
      // convention most writers use)
      // 'movi' fourcc position: 12-byte RIFF header, the whole hdrl
      // LIST (8 + hdrlLen), then the movi LIST's own tag+size
      val moviFourccPos = 12 + (8 + hdrlLen) + 8
      fourcc("idx1"); bb.putInt(idxLen)
      frameOffsets.foreach { off =>
        fourcc("00db")
        bb.putInt(0x10) // AVIIF_KEYFRAME
        bb.putInt(off - moviFourccPos)
        bb.putInt(frameLen)
      }
      bb.array()
    }

    def decodeDib24(bytes: Array[Byte]): DecodedVid = {
      def tag(off: Int) =
        if (off + 4 <= bytes.length) new String(bytes, off, 4, "US-ASCII")
        else ""
      if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "AVI ")
        return DecodedVid(ok = false, 0, 0, Array.empty)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      if (bb.getInt(4) != bytes.length - 8)
        return DecodedVid(ok = false, 0, 0, Array.empty)
      var width = 0; var height = 0; var totalFrames = -1
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      var bad = false
      // walk the top-level chunks; recurse into hdrl and movi LISTs
      def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
        var off = start
        while (off + 8 <= end && !bad) {
          val t = tag(off)
          val len = bb.getInt(off + 4)
          // Long arithmetic: crafted chunk sizes must fail, not wrap
          if (len < 0 || off + 8L + len > end) { bad = true; return }
          if (t == "LIST" && len >= 4) {
            val kind = tag(off + 8)
            if (kind == "hdrl" || kind == "movi" || kind == "strl")
              walk(off + 12, off + 8 + len, kind == "movi")
          } else if (t == "avih" && len >= 56) {
            totalFrames = bb.getInt(off + 8 + 16)
            width = bb.getInt(off + 8 + 32)
            height = bb.getInt(off + 8 + 36)
          } else if (inMovi && t == "00db") {
            if (width <= 0 || height <= 0) { bad = true; return }
            // Long product: a crafted avih height can wrap
            // stride*height back into a small Int and pass the
            // length check with garbage dims (code-review r12); len
            // is already bounded by the file length, so the Long
            // compare also bounds width*height for the allocation
            val strideL = (3L * width + 3) / 4 * 4
            if (len.toLong != strideL * height) { bad = true; return }
            val stride = strideL.toInt
            val px = new Array[Int](width * height)
            var y = 0
            while (y < height) {
              val rowOff = off + 8 + (height - 1 - y) * stride
              var x = 0
              while (x < width) {
                val o = rowOff + 3 * x
                px(y * width + x) = ((bytes(o + 2) & 0xff) << 16) |
                  ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)
                x += 1
              }
              y += 1
            }
            frames += px
          }
          off += 8 + len + (len & 1)
        }
      }
      walk(12, bytes.length, inMovi = false)
      if (bad || width <= 0 || height <= 0 || frames.isEmpty ||
          totalFrames != frames.length)
        return DecodedVid(ok = false, width, height, Array.empty)
      DecodedVid(ok = true, width, height, frames.toArray)
    }
  }

  /** Per-media decoded-video statistics row (all-integer so the
    * declared query is digit-exact against the oracle). `motion` is
    * the count of (pixel, frame>0) sites whose luminance moved by more
    * than 128 versus the SAME pixel one frame earlier — sensitive to
    * frame ORDER and pixel alignment, so a movi-order or stride bug in
    * the decode changes it. */
  case class AviStats(media_id: Long, n_bytes: Long, header_ok: Boolean,
      width: Long, height: Long, n_frames: Long, b_sum: Long,
      g_sum: Long, r_sum: Long, motion: Long)

  /** Encode the deterministic test clip for `mediaId` (the same closed
    * form the DuckDB oracle replays), round-trip it through
    * [[AviCodec]] and compute stats FROM THE DECODED FRAMES. */
  def aviRoundTripStats(mediaId: Long): AviStats = {
    val w = (8 + mediaId % 5).toInt
    val h = (8 + mediaId % 3).toInt
    val nF = (4 + mediaId % 4).toInt
    val dd = (mediaId % 251).toInt
    def px(x: Int, y: Int, f: Int): Int = {
      val b = (dd * 3 + x * 7 + y * 11 + f * 19) % 256
      val g = (dd * 5 + x * 13 + y * 3 + f * 23) % 256
      val r = (dd * 7 + x * 2 + y * 17 + f * 29) % 256
      (r << 16) | (g << 8) | b
    }
    val frames = Array.tabulate(nF)(f =>
      Array.tabulate(w * h)(i => px(i % w, i / w, f)))
    val bytes = AviCodec.encodeDib24(w, h, frames)
    val dec = AviCodec.decodeDib24(bytes)
    var bs = 0L; var gs = 0L; var rs = 0L; var motion = 0L
    var f = 0
    while (f < dec.frames.length) {
      val cur = dec.frames(f)
      val prev = if (f > 0) dec.frames(f - 1) else null
      var i = 0
      while (i < cur.length) {
        val p = cur(i)
        val b = p & 0xff; val g = (p >> 8) & 0xff; val r = (p >> 16) & 0xff
        bs += b; gs += g; rs += r
        if (prev != null) {
          val q = prev(i)
          val lumPrev = (q & 0xff) + ((q >> 8) & 0xff) + ((q >> 16) & 0xff)
          if (math.abs(b + g + r - lumPrev) > 128) motion += 1
        }
        i += 1
      }
      f += 1
    }
    AviStats(mediaId, bytes.length.toLong, dec.ok, dec.width.toLong,
      dec.height.toLong, dec.frames.length.toLong, bs, gs, rs, motion)
  }

  /** REAL byte-level PNG codec (round 13 — the first COMPRESSED
    * multimodal format, closing the last codec-family gap the r12
    * verdict named): zero external dependencies — IDAT is zlib
    * ([[java.util.zip.Inflater]]/[[java.util.zip.Deflater]]) and the
    * five scanline filters (None/Sub/Up/Average/Paeth) are reversed
    * by hand. [[PngCodec.decodeRgb24]] parses the real chunk stream:
    * 8-byte signature, length/type/data/CRC framing with EVERY chunk
    * CRC-32 verified, IHDR field checks (8-bit truecolor,
    * non-interlaced), multi-IDAT concatenation in stream order,
    * full inflate, and per-row unfiltering — so a wrong filter
    * reconstruction, CRC, chunk order or stride changes the pixels or
    * fails the decode. [[PngCodec.encodeRgb24]] takes a per-row
    * filter chooser so round-trip tests exercise ALL FIVE filter
    * types, and the spec gates BOTH directions against the JDK's
    * independent javax.imageio PNG codec (our bytes -> their reader,
    * their bytes -> our decoder). Compressed sizes are never emitted
    * into oracle-checked output: deflate length is a zlib
    * implementation detail, not a spec value. */
  object PngCodec {
    import java.util.zip.{CRC32, Deflater, Inflater}

    /** Pixels packed 0xRRGGBB, row-major, y = 0 at the top. rawLen is
      * the INFLATED filtered-stream length ((1 + 3*width) * height) —
      * closed-form, unlike the compressed byte count. */
    case class DecodedImg(ok: Boolean, width: Int, height: Int,
        pixels: Array[Int], rawLen: Long)

    private val Signature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
      0x1a, 0x0a).map(_.toByte)

    private def crcOf(typ: Array[Byte], data: Array[Byte],
        off: Int, len: Int): Long = {
      val c = new CRC32
      c.update(typ)
      c.update(data, off, len)
      c.getValue
    }

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** filterOf(y) picks the scanline filter (0-4) for row y. */
    def encodeRgb24(width: Int, height: Int, pixels: Array[Int],
        filterOf: Int => Int = _ => 0): Array[Byte] = {
      // Long-checked bounds (the decodeDib24/decodeBgr24 discipline):
      // width*height can wrap in Int so `pixels.length == w*h` alone
      // is bypassable (0 == 0 for 65536x65536) and the raw-stream
      // allocation below would throw instead of rejecting cleanly
      require(width > 0 && height > 0 &&
        width.toLong * height <= Int.MaxValue &&
        (1L + 3L * width) * height <= Int.MaxValue &&
        pixels.length.toLong == width.toLong * height,
        s"invalid dimensions ${width}x$height for ${pixels.length} pixels")
      val stride = 3 * width
      val raw = new Array[Byte]((1 + stride) * height)
      val cur = new Array[Int](stride) // unfiltered current row
      val prev = new Array[Int](stride) // unfiltered previous row
      var y = 0
      var o = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val p = pixels(y * width + x)
          cur(3 * x) = (p >> 16) & 0xff // R
          cur(3 * x + 1) = (p >> 8) & 0xff // G
          cur(3 * x + 2) = p & 0xff // B
          x += 1
        }
        // validate the RAW filterOf return before any masking: an
        // out-of-range value that is 0-4 mod 256 (e.g. 256) must fail
        // the require, not silently encode as a different filter
        val ft = filterOf(y)
        require(ft >= 0 && ft <= 4, s"invalid filter type $ft")
        raw(o) = ft.toByte; o += 1
        var i = 0
        while (i < stride) {
          val left = if (i >= 3) cur(i - 3) else 0
          val up = if (y > 0) prev(i) else 0
          val ul = if (y > 0 && i >= 3) prev(i - 3) else 0
          val v = ft match {
            case 0 => cur(i)
            case 1 => cur(i) - left
            case 2 => cur(i) - up
            case 3 => cur(i) - (left + up) / 2
            case 4 => cur(i) - paeth(left, up, ul)
          }
          raw(o) = (v & 0xff).toByte; o += 1
          i += 1
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      // deflate the filtered stream
      val defl = new Deflater(Deflater.DEFAULT_COMPRESSION)
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](raw.length + 64)
      val out = new java.io.ByteArrayOutputStream()
      while (!defl.finished()) {
        val n = defl.deflate(buf)
        out.write(buf, 0, n)
      }
      defl.end()
      val idat = out.toByteArray
      val bb = java.nio.ByteBuffer.allocate(
        8 + (12 + 13) + (12 + idat.length) + 12)
      bb.put(Signature)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        bb.putInt(data.length)
        val t = typ.getBytes("US-ASCII")
        bb.put(t); bb.put(data)
        bb.putInt(crcOf(t, data, 0, data.length).toInt)
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(width).putInt(height)
      ihdr.put(8.toByte) // bit depth
      ihdr.put(2.toByte) // color type: truecolor
      ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // compr/filter/interlace
      chunk("IHDR", ihdr.array())
      chunk("IDAT", idat)
      chunk("IEND", Array.emptyByteArray)
      bb.array()
    }

    def decodeRgb24(bytes: Array[Byte]): DecodedImg = {
      val fail = DecodedImg(ok = false, 0, 0, Array.empty, 0L)
      if (bytes.length < 8 + 25 + 12 + 12) return fail
      var i = 0
      while (i < 8) { if (bytes(i) != Signature(i)) return fail; i += 1 }
      val bb = java.nio.ByteBuffer.wrap(bytes) // PNG is big-endian
      var pos = 8
      var width = 0; var height = 0
      var seenIhdr = false; var seenIend = false
      var idatEnded = false // set once a non-IDAT chunk follows IDAT
      val idat = new java.io.ByteArrayOutputStream()
      while (pos + 12 <= bytes.length && !seenIend) {
        val len = bb.getInt(pos)
        if (len < 0 || pos.toLong + 12 + len > bytes.length) return fail
        val typ = new String(bytes, pos + 4, 4, "US-ASCII")
        val tArr = java.util.Arrays.copyOfRange(bytes, pos + 4, pos + 8)
        val crc = bb.getInt(pos + 8 + len).toLong & 0xffffffffL
        if (crcOf(tArr, bytes, pos + 8, len) != crc) return fail
        // PNG ordering rules (r13 review): IHDR must be the FIRST
        // chunk; IDAT chunks must be consecutive (tracked below)
        if (!seenIhdr && typ != "IHDR") return fail
        if (idat.size() > 0 && typ != "IDAT") idatEnded = true
        typ match {
          case "IHDR" =>
            if (seenIhdr || len != 13) return fail
            width = bb.getInt(pos + 8)
            height = bb.getInt(pos + 12)
            val bitDepth = bytes(pos + 16)
            val colorType = bytes(pos + 17)
            val compr = bytes(pos + 18)
            val filter = bytes(pos + 19)
            val interlace = bytes(pos + 20)
            // Long arithmetic for the pixel-count bound (BMP lesson)
            if (width <= 0 || height <= 0 || bitDepth != 8 ||
                colorType != 2 || compr != 0 || filter != 0 ||
                interlace != 0 ||
                width.toLong * height > Int.MaxValue ||
                (1L + 3L * width) * height > Int.MaxValue)
              return fail
            seenIhdr = true
          case "IDAT" =>
            if (!seenIhdr || idatEnded) return fail // non-consecutive
            idat.write(bytes, pos + 8, len)
          case "IEND" =>
            if (len != 0) return fail
            seenIend = true
          case _ =>
            // unknown chunk: critical (uppercase first type letter,
            // bit 5 of byte 0 clear) must fail — skipping a chunk the
            // spec says we must understand would be a silent misread;
            // ancillary (lowercase) is skippable, CRC already checked
            if ((tArr(0) & 0x20) == 0) return fail
        }
        pos += 12 + len
      }
      if (!seenIhdr || !seenIend) return fail
      val stride = 3 * width
      val rawLen = (1 + stride) * height
      val raw = new Array[Byte](rawLen)
      val infl = new Inflater()
      infl.setInput(idat.toByteArray)
      var got = 0
      try {
        while (got < rawLen && !infl.finished()) {
          val n = infl.inflate(raw, got, rawLen - got)
          // needsDictionary: a crafted FDICT zlib header makes
          // inflate() return 0 forever with needsInput()=false — bail
          // or this loop never terminates (r13 review finding)
          if (n == 0 && (infl.needsInput() || infl.needsDictionary()))
            return fail // truncated or preset-dictionary stream
          got += n
        }
        // the stream must end EXACTLY at rawLen AND reach the zlib
        // trailer: finished()=true is what proves the adler-32
        // checksum was read and verified — without it a
        // trailer-stripped stream that happens to fill rawLen bytes
        // decodes "ok" with its integrity never checked (r13 review)
        if (got != rawLen) return fail
        if (!infl.finished()) {
          if (infl.inflate(new Array[Byte](1)) != 0) return fail
          if (!infl.finished()) return fail
        }
      } catch {
        case _: java.util.zip.DataFormatException => return fail
      } finally infl.end()
      // reverse the per-row filters
      val out = new Array[Int](width * height)
      val cur = new Array[Int](stride)
      val prev = new Array[Int](stride)
      var y = 0
      while (y < height) {
        val ft = raw(y * (1 + stride)) & 0xff
        if (ft > 4) return fail
        val base = y * (1 + stride) + 1
        var j = 0
        while (j < stride) {
          val v = raw(base + j) & 0xff
          val left = if (j >= 3) cur(j - 3) else 0
          val up = if (y > 0) prev(j) else 0
          val ul = if (y > 0 && j >= 3) prev(j - 3) else 0
          cur(j) = ft match {
            case 0 => v
            case 1 => (v + left) & 0xff
            case 2 => (v + up) & 0xff
            case 3 => (v + (left + up) / 2) & 0xff
            case 4 => (v + paeth(left, up, ul)) & 0xff
          }
          j += 1
        }
        var x = 0
        while (x < width) {
          out(y * width + x) = (cur(3 * x) << 16) |
            (cur(3 * x + 1) << 8) | cur(3 * x + 2)
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      DecodedImg(ok = true, width, height, out, rawLen.toLong)
    }
  }

  /** Per-media decoded-image statistics row (all-integer so the
    * declared query is digit-exact against the oracle). */
  case class BmpStats(media_id: Long, n_bytes: Long, header_ok: Boolean,
      width: Long, height: Long, b_sum: Long, g_sum: Long, r_sum: Long,
      edges: Long)

  /** Encode the deterministic test image for `mediaId` (the same
    * closed form the DuckDB oracle replays), round-trip it through
    * [[BmpCodec]] and compute stats FROM THE DECODED PIXELS — the
    * Spark side exercises the real header + padded-BGR-row parse end
    * to end. Channels derive from the id FOLDED mod 251 before any
    * multiply (no overflow envelope); `edges` counts horizontal
    * luminance jumps > 128 (an integer gradient, so the value is
    * sensitive to pixel ORDER, not just content — a row-order or
    * stride bug in the decode flips it). */
  def bmpRoundTripStats(mediaId: Long): BmpStats = {
    val w = (8 + mediaId % 9).toInt
    val h = (8 + mediaId % 7).toInt
    val dd = (mediaId % 251).toInt
    def px(x: Int, y: Int): Int = {
      val b = (dd * 3 + x * 7 + y * 11) % 256
      val g = (dd * 5 + x * 13 + y * 3) % 256
      val r = (dd * 7 + x * 2 + y * 17) % 256
      (r << 16) | (g << 8) | b
    }
    val pixels = Array.tabulate(w * h)(i => px(i % w, i / w))
    val bytes = BmpCodec.encodeBgr24(w, h, pixels)
    val dec = BmpCodec.decodeBgr24(bytes)
    var bs = 0L; var gs = 0L; var rs = 0L; var edges = 0L
    var y = 0
    while (y < dec.height) {
      var x = 0
      var prevLum = -1
      while (x < dec.width) {
        val p = dec.pixels(y * dec.width + x)
        val b = p & 0xff; val g = (p >> 8) & 0xff; val r = (p >> 16) & 0xff
        bs += b; gs += g; rs += r
        val lum = b + g + r
        if (prevLum >= 0 && math.abs(lum - prevLum) > 128) edges += 1
        prevLum = lum
        x += 1
      }
      y += 1
    }
    BmpStats(mediaId, bytes.length.toLong, dec.ok, dec.width.toLong,
      dec.height.toLong, bs, gs, rs, edges)
  }

  /** Per-media decoded-audio statistics row (all-integer so the
    * declared query is digit-exact against the oracle). */
  case class WavStats(media_id: Long, n_bytes: Long, header_ok: Boolean,
      sample_rate: Long, n_samples: Long, peak_abs: Long, sum_sq: Long,
      zero_crossings: Long)

  /** Encode the deterministic test waveform for `mediaId` (the same
    * closed form the DuckDB oracle replays), then round-trip it
    * through [[WavCodec]] and compute stats FROM THE DECODED BYTES —
    * the Spark side exercises the real header+PCM parse end to end. */
  def wavRoundTripStats(mediaId: Long, sampleRate: Int): WavStats = {
    val n = (64 + mediaId % 64).toInt
    // fold the id into the modulus BEFORE multiplying (ADVICE r11):
    // (id % 2001) * 31 ≡ id * 31 (mod 2001) for non-negative ids, so
    // the waveform is unchanged, but the intermediate never exceeds
    // ~64k — no Long-overflow envelope (Spark wraps, DuckDB errors)
    val samples = Array.tabulate(n)(i =>
      ((mediaId % 2001) * 31 + i.toLong * 17) % 2001 - 1000)
      .map(_.toShort)
    val bytes = WavCodec.encodePcm16(samples, sampleRate)
    val dec = WavCodec.decodePcm16(bytes)
    var peak = 0L; var sumSq = 0L; var zc = 0L
    var i = 0
    while (i < dec.samples.length) {
      val s = dec.samples(i).toLong
      if (math.abs(s) > peak) peak = math.abs(s)
      sumSq += s * s
      if (i > 0 && ((dec.samples(i - 1) < 0) != (s < 0))) zc += 1
      i += 1
    }
    WavStats(mediaId, bytes.length.toLong, dec.ok, dec.sampleRate.toLong,
      dec.samples.length.toLong, peak, sumSq, zc)
  }

  /** Per-media decoded-PNG statistics row (all-integer so the
    * declared query is digit-exact against the oracle; raw_len is the
    * closed-form INFLATED stream length — compressed byte counts are
    * a zlib implementation detail and never leave the codec). */
  case class PngStats(media_id: Long, raw_len: Long, header_ok: Boolean,
      width: Long, height: Long, r_sum: Long, g_sum: Long, b_sum: Long,
      edges: Long)

  /** Encode the deterministic test image for `mediaId` as a REAL PNG
    * (zlib-compressed IDAT, per-row filter (id + y) % 5 so all five
    * scanline filters appear across the corpus), decode it through
    * [[PngCodec]]'s full chunk/CRC/inflate/unfilter path, and compute
    * stats FROM THE DECODED PIXELS. Channel formulas differ from the
    * BMP key's so the two oracles can't mask each other. `edges` is
    * the same order-sensitive luminance gradient as the BMP key:
    * a filter-reconstruction bug anywhere changes it. */
  def pngRoundTripStats(mediaId: Long): PngStats = {
    val w = (8 + mediaId % 11).toInt
    val h = (8 + mediaId % 5).toInt
    val dd = (mediaId % 239).toInt
    def px(x: Int, y: Int): Int = {
      val r = (dd * 2 + x * 5 + y * 13) % 256
      val g = (dd * 11 + x * 3 + y * 7) % 256
      val b = (dd * 5 + x * 17 + y * 2) % 256
      (r << 16) | (g << 8) | b
    }
    val pixels = Array.tabulate(w * h)(i => px(i % w, i / w))
    val bytes = PngCodec.encodeRgb24(w, h, pixels,
      y => ((mediaId + y) % 5).toInt)
    val dec = PngCodec.decodeRgb24(bytes)
    var rs = 0L; var gs = 0L; var bs = 0L; var edges = 0L
    var y = 0
    while (y < dec.height) {
      var x = 0
      var prevLum = -1
      while (x < dec.width) {
        val p = dec.pixels(y * dec.width + x)
        val b = p & 0xff; val g = (p >> 8) & 0xff; val r = (p >> 16) & 0xff
        rs += r; gs += g; bs += b
        val lum = b + g + r
        if (prevLum >= 0 && math.abs(lum - prevLum) > 128) edges += 1
        prevLum = lum
        x += 1
      }
      y += 1
    }
    PngStats(mediaId, dec.rawLen, dec.ok, dec.width.toLong,
      dec.height.toLong, rs, gs, bs, edges)
  }
}
