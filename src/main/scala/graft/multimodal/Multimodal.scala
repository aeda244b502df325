package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support for the training-data pipeline surface:
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, plus batch decode / feature-extract / resize / frame-
  * sample stages.
  *
  * The Spark-side plumbing — schema, partitioning, batch shape,
  * operator signatures — is real and tested, and so are the decoders
  * the JDK can express without external libraries: images via
  * javax.imageio (PNG/JPEG/GIF/BMP), audio via a hand-rolled PCM-WAV
  * parse, video via the imageio GIF plugin (frame walk + per-frame
  * delays) AND via a hand-rolled MJPEG-in-AVI RIFF walk (per-frame
  * javax.imageio JPEG decode — same pattern as the WAV parser). Only
  * inter-frame-coded containers (mp4/webm — no JVM codec exists)
  * remain a deterministic fake: `decodeBatch` is the single seam
  * where a real build would call ffmpeg on each batch.
  *
  * Batching model: partitions stream through `mapPartitions` in
  * groups of `batchSize` rows, the same shape a vectorized decode
  * (Arrow batch / pandas UDF in PySpark, JNI batch call here) needs —
  * per-batch setup cost is amortized, memory is bounded by
  * batchSize × payload, and the operator composes with any upstream
  * repartitioning (decode parallelism = partition count).
  */
object Multimodal {

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("format", StringType),
    StructField("duration_ms", IntegerType),
    StructField("feature", ArrayType(FloatType, containsNull = false))
  ))

  /** Real image decode via the JDK's javax.imageio (no external deps):
    * container format + true dimensions from the stream header, pixel
    * data only for the feature histogram. Returns None when no
    * registered reader recognizes the bytes — the caller falls back to
    * the deterministic fake so non-image payloads (and the text-byte
    * fixture) keep flowing instead of failing the partition. */
  private def decodeImage(content: Array[Byte]): Option[(Int, Int, String, Array[Float])] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(content))
    if (iis == null) None // no registered stream SPI
    else try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val fmt = reader.getFormatName.toLowerCase
          val img = reader.read(0)
          val (w, h) = (img.getWidth, img.getHeight)
          // 8-bin luminance histogram, normalized — a real (tiny)
          // feature a downstream trainer could consume
          val bins = new Array[Float](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = 0.299 * ((rgb >> 16) & 0xff) +
                0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
              bins(math.min(7, (lum / 32).toInt)) += 1f
              x += 1
            }
            y += 1
          }
          val n = (w * h).toFloat
          Some((w, h, fmt, bins.map(_ / n)))
        } finally reader.dispose()
      }
    } catch {
      // imageio readers throw RuntimeExceptions (AIOOBE, IAE, NASE, …)
      // on recognized-but-corrupt payloads — any decode failure must
      // fall back to the fake, never kill the task
      case scala.util.control.NonFatal(_) => None
    }
    finally iis.close()
  }

  /** Real audio decode for RIFF/WAVE PCM — a pure header+sample parse,
    * no dependencies (the format is a public 44-byte header plus
    * little-endian chunks). Output convention for the shared decoded
    * schema: width = sample rate (Hz), height = channel count,
    * duration from data-chunk size / byte rate, feature = 8-bin
    * normalized histogram of 16-bit sample amplitudes. Scope: 16-bit
    * PCM only — other widths/codecs return None so the caller falls
    * back to the deterministic fake (a half-real row with a zeroed
    * histogram would silently poison downstream consumers). Any parse
    * failure on adversarial bytes also returns None: a corrupt payload
    * must never kill the task (decodeImage's contract). */
  private def decodeWav(content: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    // chunk sizes stay Long end-to-end: a declared size near 2^31
    // must not overflow the walk offset into a negative index
    def le32(o: Long): Long = {
      val i = o.toInt
      ((content(i) & 0xffL)) | ((content(i + 1) & 0xffL) << 8) |
        ((content(i + 2) & 0xffL) << 16) | ((content(i + 3) & 0xffL) << 24)
    }
    def le16(o: Long): Int =
      (content(o.toInt) & 0xff) | ((content(o.toInt + 1) & 0xff) << 8)
    def tag(o: Long): String = new String(content, o.toInt, 4, "US-ASCII")
    try {
      if (content.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") None
      else {
        // chunk walk: find fmt (16-bit PCM only) and data
        var off = 12L
        var fmtInfo: Option[(Int, Int, Long)] = None // channels, rate, byteRate
        var data: Option[(Int, Int)] = None // offset, size
        while (off + 8 <= content.length && (fmtInfo.isEmpty || data.isEmpty)) {
          val id = tag(off)
          val size = le32(off + 4) // unsigned 32-bit, in [0, 2^32)
          if (id == "fmt " && size >= 16 && off + 24 <= content.length) {
            val audioFormat = le16(off + 8)
            val bits = le16(off + 22)
            if (audioFormat == 1 && bits == 16) // PCM16; rest falls back
              fmtInfo = Some((le16(off + 10), le32(off + 12).toInt,
                le32(off + 16)))
          } else if (id == "data")
            data = Some(((off + 8).toInt,
              math.min(size, content.length - off - 8).toInt))
          off += 8 + size + (size & 1) // chunks are word-aligned
        }
        for ((channels, rate, byteRate) <- fmtInfo; (dOff, dSize) <- data
            if rate > 0 && byteRate > 0 && channels > 0 && dSize >= 0) yield {
          val durationMs = (dSize * 1000L / byteRate).toInt
          val bins = new Array[Float](8)
          var n = 0
          var i = dOff
          while (i + 1 < dOff + dSize) {
            val s = (le16(i.toLong) << 16) >> 16 // sign-extend
            bins(math.min(7, math.abs(s) / 4096)) += 1f
            n += 1
            i += 2
          }
          (rate, channels, durationMs,
            if (n == 0) bins else bins.map(_ / n))
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Real video decode for animated GIF — the one video container the
    * JDK ships a codec for (javax.imageio's GIF plugin), so the video
    * path needs no external deps either. Frame count via
    * `getNumImages(true)` (a full stream walk), per-frame delay from
    * the GraphicControlExtension metadata node (centiseconds → ms),
    * dims and the 8-bin luminance-histogram feature from the first
    * frame. Non-GIF video payloads (mp4/webm — no JDK codec) return
    * None → deterministic fake; that remaining seam is where a real
    * build would call ffmpeg per batch. */
  private def decodeGif(content: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    val isGif = content.length >= 6 &&
      new String(content, 0, 4, "US-ASCII") == "GIF8"
    if (!isGif) None
    else {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      if (iis == null) None
      else try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            if (n <= 0) None
            else {
              var durationCs = 0L
              var i = 0
              while (i < n) {
                val tree = reader.getImageMetadata(i)
                  .getAsTree("javax_imageio_gif_image_1.0")
                  .asInstanceOf[org.w3c.dom.Element]
                val gce = tree.getElementsByTagName("GraphicControlExtension")
                if (gce.getLength > 0) {
                  val d = gce.item(0).asInstanceOf[org.w3c.dom.Element]
                    .getAttribute("delayTime")
                  if (d.nonEmpty) durationCs += d.toLong
                }
                i += 1
              }
              val img = reader.read(0)
              val (w, h) = (img.getWidth, img.getHeight)
              val bins = new Array[Float](8)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val lum = 0.299 * ((rgb >> 16) & 0xff) +
                    0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                  bins(math.min(7, (lum / 32).toInt)) += 1f
                  x += 1
                }
                y += 1
              }
              val np = (w * h).toFloat
              Some((w, h, (durationCs * 10L).toInt, bins.map(_ / np)))
            }
          } finally reader.dispose()
        }
      } catch {
        case scala.util.control.NonFatal(_) => None
      } finally iis.close()
    }
  }

  /** Decode one uncompressed-DIB (BI_RGB) or RLE8 (BI_RLE8) AVI video
    * frame given the stream's BITMAPINFOHEADER (strf chunk bytes).
    * Both codecs are public bitmap formats a pure header+pixel parse
    * handles — no external codec. Returns the decodeImage-shaped
    * (w, h, fmt, 8-bin luminance histogram).
    *
    * Layout facts used: rows are BOTTOM-UP when biHeight > 0 and
    * 4-byte aligned; 24/32-bit pixels are BGR(X); 8-bit pixels index
    * the RGBQUAD palette that follows the 40-byte header inside strf
    * (biClrUsed entries, 256 when 0); RLE8 encodes (count, index)
    * runs with escapes 0=EOL, 1=end, 2=delta, n≥3=literal (word-
    * aligned). Row order doesn't matter for the histogram, but the
    * row STRIDE does (padding bytes must not be read as pixels).
    *
    * INTER-FRAME: `prev` is the previous frame's palette-index canvas
    * — RLE8's escapes are a TEMPORAL-delta mechanism (a non-key frame
    * encodes only changed runs; skipped/unpainted cells mean "keep
    * the previous frame's pixel"), so painting over the carried
    * canvas is the codec's real inter-frame decode, not an
    * approximation. With no usable prev (first frame, size change)
    * unpainted cells default to palette index 0, the conventional
    * reading of a keyframe's undefined cells. Returns the updated
    * canvas for the next frame (empty for truecolor, which is always
    * self-contained). */
  private def decodeDibFrame(frame: Array[Byte], strf: Array[Byte],
      prev: Option[Array[Byte]] = None)
      : Option[(Int, Int, String, Array[Float], Array[Byte])] = {
    def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    try {
      if (strf.length < 40) return None
      val w = le32(strf, 4)
      val h = math.abs(le32(strf, 8)) // negative = top-down; |h| rows either way
      val bits = le16(strf, 14)
      val comp = le32(strf, 16)
      if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
      val bins = new Array[Float](8)
      def addLum(r: Int, g: Int, b: Int): Unit = {
        val lum = 0.299 * r + 0.587 * g + 0.114 * b
        bins(math.min(7, (lum / 32).toInt)) += 1f
      }
      if (comp == 0 && (bits == 24 || bits == 32)) { // BI_RGB truecolor
        val bpp = bits / 8
        val stride = (w * bpp + 3) & ~3
        if (frame.length < stride.toLong * h) return None
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val o = y * stride + x * bpp // B, G, R[, X]
            addLum(frame(o + 2) & 0xff, frame(o + 1) & 0xff, frame(o) & 0xff)
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        return Some((w, h, "dib", bins.map(_ / n), Array.emptyByteArray))
      } else if (bits == 8 && (comp == 0 || comp == 1)) { // paletted
        val nColors = { val c = le32(strf, 32); if (c == 0) 256 else c }
        if (strf.length < 40 + 4 * nColors) return None
        // temporal prediction: start from the previous frame's canvas
        // when it matches this frame's geometry
        val idx = prev match {
          case Some(p) if p.length == w * h => p.clone()
          case _ => new Array[Byte](w * h) // keyframe: palette index 0
        }
        if (comp == 0) { // uncompressed 8-bit, bottom-up, 4-aligned rows
          val stride = (w + 3) & ~3
          if (frame.length < stride.toLong * h) return None
          var y = 0
          while (y < h) {
            System.arraycopy(frame, y * stride, idx, y * w, w)
            y += 1
          }
        } else { // BI_RLE8
          var i = 0; var x = 0; var y = 0; var done = false
          while (!done && i + 1 < frame.length && y < h) {
            val count = frame(i) & 0xff
            val value = frame(i + 1) & 0xff
            i += 2
            if (count > 0) { // encoded run
              var k = 0
              while (k < count && x < w) { idx(y * w + x) = value.toByte
                x += 1; k += 1 }
            } else value match { // escape
              case 0 => x = 0; y += 1 // end of line
              case 1 => done = true // end of bitmap
              case 2 => // delta: skipped cells KEEP the carried canvas
                if (i + 1 < frame.length) { x += frame(i) & 0xff
                  y += frame(i + 1) & 0xff; i += 2 }
                else done = true
              case n => // literal run, word-aligned
                var k = 0
                while (k < n && i < frame.length) {
                  if (x < w && y < h) { idx(y * w + x) = frame(i); x += 1 }
                  i += 1; k += 1
                }
                i += (n & 1)
            }
          }
        }
        var p = 0
        while (p < w * h) {
          val o = 40 + 4 * (idx(p) & 0xff) // RGBQUAD: B, G, R, reserved
          if (o + 2 < strf.length)
            addLum(strf(o + 2) & 0xff, strf(o + 1) & 0xff, strf(o) & 0xff)
          p += 1
        }
        val n = (w.toLong * h).toFloat
        Some((w, h, if (comp == 1) "rle8" else "dib", bins.map(_ / n), idx))
      } else None
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Real video decode for AVI — AVI is a RIFF container (the same
    * public chunk grammar as WAV, walked the same way). Three codec
    * families decode for real, all pure-JVM: Motion-JPEG (every frame
    * a standalone JPEG the JDK's imageio reads), uncompressed DIB
    * (BI_RGB 8/24/32-bit), and RLE8 (BI_RLE8) — the latter two via
    * [[decodeDibFrame]] using the video stream's strf header, with
    * the palette canvas CARRIED BETWEEN FRAMES so RLE8's delta/skip
    * temporal prediction decodes for real (inter-frame, not
    * frame-independent). Only transform-coded containers (mp4/webm)
    * remain outside pure-JVM reach.
    * Frame count from the `##dc`/`##db` movi chunks (ground
    * truth — the avih header's dwTotalFrames is advisory and often
    * wrong in the wild), per-frame interval from avih's
    * dwMicroSecPerFrame, dims + the 8-bin luminance histogram from
    * the FIRST frame. LIST chunks (`hdrl`, `movi`, `rec `) recurse;
    * anything malformed returns None → deterministic fake
    * (decodeImage's never-kill-the-task contract). */
  private def decodeAviMjpeg(content: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    // Long offsets end-to-end, as in decodeWav: a declared chunk size
    // near 2^31 must not overflow the walk into a negative index
    def le32(o: Long): Long = {
      val i = o.toInt
      ((content(i) & 0xffL)) | ((content(i + 1) & 0xffL) << 8) |
        ((content(i + 2) & 0xffL) << 16) | ((content(i + 3) & 0xffL) << 24)
    }
    def tag(o: Long): String = new String(content, o.toInt, 4, "US-ASCII")
    try {
      if (content.length < 24 || tag(0) != "RIFF" || tag(8) != "AVI ") None
      else {
        var usPerFrame = 0L
        var nFrames = 0
        var dims: Option[(Int, Int)] = None
        var decoded = 0
        val histSum = new Array[Float](8)
        var canvas: Option[Array[Byte]] = None // inter-frame state
        var lastStrhVids = false // the strf that follows belongs to 'vids'
        var vidStrf: Option[Array[Byte]] = None
        // iterative walk with an explicit range stack (decodeWav's
        // loop pattern): a crafted chain of nested LIST headers must
        // exhaust the input, not the JVM stack — StackOverflowError
        // is not NonFatal and would kill the task
        val ranges = scala.collection.mutable.Stack((12L, content.length.toLong))
        while (ranges.nonEmpty) {
          var (off, end) = ranges.pop()
          var descend = false
          while (!descend && off + 8 <= end) {
            val id = tag(off)
            val size = le32(off + 4)
            val body = off + 8
            if (id == "LIST" && size >= 4) {
              // in-order DFS: park the remainder, enter the body now
              ranges.push((body + size + (size & 1), end))
              ranges.push((body + 4, math.min(end, body + size)))
              descend = true
            } else if (id == "avih" && size >= 4)
              usPerFrame = le32(body) // dwMicroSecPerFrame
            else if (id == "strh" && size >= 4 && body + 4 <= content.length)
              lastStrhVids = tag(body) == "vids"
            else if (id == "strf" && lastStrhVids && size >= 40 &&
                body + size <= content.length) {
              vidStrf = Some(java.util.Arrays.copyOfRange(
                content, body.toInt, (body + size).toInt))
              lastStrhVids = false
            } else if (id.charAt(0).isDigit && id.charAt(1).isDigit &&
                (id.endsWith("dc") || id.endsWith("db"))) {
              nFrames += 1
              if (size > 0 && body + size <= content.length) {
                val frame = java.util.Arrays.copyOfRange(
                  content, body.toInt, (body + size).toInt)
                // EVERY frame decodes (the feature is the clip's mean
                // histogram): self-contained JPEG (MJPG) first; else a
                // DIB/RLE8 frame interpreted through the stream header
                // with the previous frame's canvas carried in —
                // RLE8's delta/skip escapes are temporal prediction,
                // so chaining the canvas IS the inter-frame decode
                decodeImage(frame) match {
                  case Some((w, h, _, hist)) =>
                    if (dims.isEmpty) dims = Some((w, h))
                    var b = 0
                    while (b < 8) { histSum(b) += hist(b); b += 1 }
                    decoded += 1
                  case None =>
                    vidStrf.flatMap(decodeDibFrame(frame, _, canvas))
                      .foreach { case (w, h, _, hist, cv) =>
                        if (dims.isEmpty) dims = Some((w, h))
                        canvas = Some(cv)
                        var b = 0
                        while (b < 8) { histSum(b) += hist(b); b += 1 }
                        decoded += 1
                      }
                }
              }
            }
            off = body + size + (size & 1) // chunks are word-aligned
          }
        }
        dims.collect { case (w, h) if nFrames > 0 && decoded > 0 =>
          // clamp: a garbage dwMicroSecPerFrame (up to 2^32−1) times a
          // large frame count overflows Int when let through raw
          (w, h, math.min(nFrames * usPerFrame / 1000L,
            Int.MaxValue.toLong).toInt, histSum.map(_ / decoded))
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** ISO-BMFF (MP4) container METADATA parse — a pure-JVM box walk
    * (the same public chunk grammar family as RIFF): dims from the
    * first video `tkhd` (16.16 fixed point), duration from `mvhd`
    * (timescale units → ms), both version 0 and version 1 layouts.
    * MP4's PIXELS are transform-coded (H.264/H.265/VP9) — outside
    * pure-JVM reach — so this parses everything a container carries
    * and leaves exactly the pixel decode to the documented seam.
    * Iterative walk with an explicit range stack (the decodeAviMjpeg
    * DoS discipline); malformed sizes end the current range rather
    * than throwing. */
  private def decodeMp4Meta(content: Array[Byte])
      : Option[(Int, Int, Int)] = {
    def be32(o: Long): Long = {
      val i = o.toInt
      ((content(i) & 0xffL) << 24) | ((content(i + 1) & 0xffL) << 16) |
        ((content(i + 2) & 0xffL) << 8) | (content(i + 3) & 0xffL)
    }
    def be64(o: Long): Long = (be32(o) << 32) | be32(o + 4)
    def tag(o: Long): String = new String(content, o.toInt, 4, "US-ASCII")
    try {
      if (content.length < 16 || tag(4) != "ftyp") return None
      var timescale = 0L; var duration = -1L; var w = 0; var h = 0
      val containers = Set("moov", "trak", "mdia", "minf", "stbl")
      val ranges = scala.collection.mutable.Stack(
        (0L, content.length.toLong))
      while (ranges.nonEmpty) {
        var (off, end) = ranges.pop()
        var descend = false
        while (!descend && off + 8 <= end) {
          val size0 = be32(off)
          val typ = tag(off + 4)
          val (hdr, size) =
            if (size0 == 1L && off + 16 <= end) (16L, be64(off + 8))
            else if (size0 == 0L) (8L, end - off) // box runs to range end
            else (8L, size0)
          if (size < hdr || off + size > end) { off = end } // malformed
          else {
            val body = off + hdr
            // field reads validate against the BOX's own end, never
            // the enclosing range — a truncated mvhd/tkhd must fall
            // through to the fake, not read the next box's bytes as
            // metadata
            val boxEnd = off + size
            if (containers(typ)) {
              ranges.push((boxEnd, end))
              ranges.push((body, boxEnd))
              descend = true
            } else if (typ == "mvhd" && body + 4 <= boxEnd) {
              val v = content(body.toInt) & 0xff
              if (v == 1 && body + 32 <= boxEnd) {
                timescale = be32(body + 20); duration = be64(body + 24)
              } else if (v == 0 && body + 20 <= boxEnd) {
                timescale = be32(body + 12); duration = be32(body + 16)
              }
            } else if (typ == "tkhd" && w == 0 && body + 4 <= boxEnd) {
              val v = content(body.toInt) & 0xff
              val wOff = if (v == 1) body + 88 else body + 76
              if (wOff + 8 <= boxEnd) {
                val tw = (be32(wOff) >> 16).toInt
                val th = (be32(wOff + 4) >> 16).toInt
                if (tw > 0 && th > 0) { w = tw; h = th }
              }
            }
            if (!descend) off += size
          }
        }
      }
      if (w > 0 && h > 0 && timescale > 0 && duration >= 0)
        Some((w, h, math.min(duration * 1000L / timescale,
          Int.MaxValue.toLong).toInt))
      else None
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  // ---- transform-coded video: a REAL intra-frame integer-DCT codec
  // (the JPEG / H.264-intra mechanism — 8×8 DCT-II, flat quantizer,
  // zigzag, zero-run/level entropy coding), pure JVM on both sides:
  // the fixture ENCODES with the forward transform, the decoder below
  // runs dequant + inverse DCT + clamp. This closes the
  // "transform-coded pixels" seam for the engine's own mp4 track
  // format (sample magic "GDCT" in mdat); real-world H.264/VP9
  // bitstreams (arithmetic entropy coding, inter prediction) remain
  // out of scope and still fall through to container-metadata +
  // deterministic fake, stated below.

  /** Flat quantizer step (flat tables are what MJPEG hardware profiles
    * use; constant blocks round-trip EXACTLY: dequant(round(8c/16))/8
    * = c for even c — the fixture exploits this for exact tests). */
  private val DctQ = 16

  private val dctCos: Array[Array[Double]] = Array.tabulate(8, 8) {
    (u, x) => math.cos((2 * x + 1) * u * math.Pi / 16)
  }
  private val dctC: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2) else 1.0)

  private val zigzag: Array[(Int, Int)] = {
    val order = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for (s <- 0 until 15; i <- 0 to s; if i < 8 && (s - i) < 8)
      order += (if (s % 2 == 0) (s - i, i) else (i, s - i))
    order.toArray
  }

  /** Forward: 8×8 spatial block → 64 quantized zigzag coefficients. */
  private[multimodal] def fdctQuant(block: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var k = 0
    while (k < 64) {
      val (u, v) = zigzag(k)
      var acc = 0.0
      var x = 0
      while (x < 8) {
        var y = 0
        while (y < 8) {
          acc += block(y * 8 + x) * dctCos(u)(x) * dctCos(v)(y)
          y += 1
        }
        x += 1
      }
      val f = 0.25 * dctC(u) * dctC(v) * acc
      out(k) = math.round(f / DctQ).toInt
      k += 1
    }
    out
  }

  /** Inverse: 64 quantized zigzag coefficients → 8×8 clamped pixels. */
  private[multimodal] def idctDequant(coef: Array[Int]): Array[Int] = {
    val f = new Array[Double](64)
    var k = 0
    while (k < 64) {
      val (u, v) = zigzag(k)
      f(v * 8 + u) = coef(k).toDouble * DctQ
      k += 1
    }
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            acc += dctC(u) * dctC(v) * f(v * 8 + u) *
              dctCos(u)(x) * dctCos(v)(y)
            v += 1
          }
          u += 1
        }
        val p = math.round(0.25 * acc).toInt
        out(y * 8 + x) = math.max(0, math.min(255, p))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Entropy-code one block: zero-run/level pairs over the zigzag
    * scan (the JPEG AC scheme without the Huffman layer): [nPairs: u8]
    * then nPairs × [zeroRun: u8][level: s16 LE]. */
  private def encodeBlock(coef: Array[Int],
      out: java.io.ByteArrayOutputStream): Unit = {
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var run = 0
    var k = 0
    while (k < 64) {
      if (coef(k) == 0) run += 1
      else {
        while (run > 255) { pairs += ((255, 0)); run -= 255 }
        pairs += ((run, coef(k))); run = 0
      }
      k += 1
    }
    out.write(pairs.length)
    pairs.foreach { case (r, lvl) =>
      out.write(r); out.write(lvl & 0xff); out.write((lvl >> 8) & 0xff)
    }
  }

  private def decodeBlock(bytes: Array[Byte], off0: Int)
      : (Array[Int], Int) = {
    val coef = new Array[Int](64)
    var off = off0
    val n = bytes(off) & 0xff
    off += 1
    var k = 0
    var i = 0
    while (i < n) {
      k += bytes(off) & 0xff
      val lvl = ((bytes(off + 1) & 0xff) |
        ((bytes(off + 2) & 0xff) << 8)).toShort.toInt
      if (lvl != 0) { coef(k) = lvl; k += 1 }
      off += 3
      i += 1
    }
    (coef, off)
  }

  /** Decode a GDCT frame (grayscale, dims padded to 8) → pixels in
    * raster order, or None on a malformed stream. */
  private def decodeDctFrame(bytes: Array[Byte], w: Int, h: Int)
      : Option[Array[Int]] =
    try {
      val bw = (w + 7) / 8
      val bh = (h + 7) / 8
      val px = new Array[Int](w * h)
      var off = 0
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          val (coef, next) = decodeBlock(bytes, off)
          off = next
          val block = idctDequant(coef)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val (gx, gy) = (bx * 8 + x, by * 8 + y)
              if (gx < w && gy < h) px(gy * w + gx) = block(y * 8 + x)
              x += 1
            }
            y += 1
          }
          bx += 1
        }
        by += 1
      }
      Some(px)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode the engine's transform-coded mp4 track: container dims +
    * duration from the real moov parse, pixels from the GDCT
    * intra-DCT samples in mdat (magic "GDCT" + be16 w/h/nFrames +
    * be32-length-prefixed frames). Returns the 8-bin first-frame
    * luminance histogram — the REAL feature the metadata-only path
    * cannot produce. Non-GDCT mdat (real-world H.264/VP9) returns
    * None and falls through to the stated metadata + fake path. */
  private def decodeMp4Dct(content: Array[Byte])
      : Option[(Int, Int, Int, Array[Float])] =
    decodeMp4Meta(content).flatMap { case (w, h, durMs) =>
      try {
        // top-level box walk for mdat (the builder writes it top-level)
        def be32(o: Int): Long =
          ((content(o) & 0xffL) << 24) | ((content(o + 1) & 0xffL) << 16) |
            ((content(o + 2) & 0xffL) << 8) | (content(o + 3) & 0xffL)
        var off = 0L
        var body = -1L
        while (body < 0 && off + 8 <= content.length) {
          val size = be32(off.toInt)
          val typ = new String(content, off.toInt + 4, 4, "US-ASCII")
          if (size < 8 || off + size > content.length) off = content.length
          else {
            if (typ == "mdat") body = off + 8
            off += size
          }
        }
        if (body < 0 || body + 10 > content.length) None
        else if (new String(content, body.toInt, 4, "US-ASCII") != "GDCT")
          None
        else {
          val b = body.toInt + 4
          def be16(o: Int): Int =
            ((content(o) & 0xff) << 8) | (content(o + 1) & 0xff)
          val (fw, fh, nf) = (be16(b), be16(b + 2), be16(b + 4))
          if (fw <= 0 || fh <= 0 || nf <= 0) None
          else {
            val flen = be32(b + 6).toInt
            val fbytes = java.util.Arrays.copyOfRange(
              content, b + 10, b + 10 + flen)
            decodeDctFrame(fbytes, fw, fh).map { px =>
              val bins = new Array[Float](8)
              px.foreach(p => bins(math.min(7, p / 32)) += 1f)
              val n = px.length.toFloat
              (fw, fh, durMs, bins.map(_ / n))
            }
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The deterministic payload-derived fake feature vector — the
    * remaining stub output for REAL-WORLD transform-coded containers
    * (H.264/VP9 bitstreams: a real build decodes those via an
    * external codec per batch; the engine's own GDCT intra-DCT track
    * decodes for real above). */
  private def fakeFeature(content: Array[Byte]): Array[Float] = {
    val h = content.foldLeft(1125899906842597L)((a, b) => a * 31 + b)
    Array.tabulate(8)(i => (math.floorMod(h >> (i * 7), 1000) / 1000.0f))
  }

  /** Batch decode: the image path is REAL (javax.imageio), so is
    * PCM-WAV audio (decodeWav), animated-GIF video (decodeGif),
    * MJPEG/DIB/RLE8-in-AVI video with temporal-delta inter-frames
    * (decodeAviMjpeg), and MP4 CONTAINER metadata (decodeMp4Meta —
    * real dims + duration, transform-coded pixels remain the seam, so
    * an mp4's feature vector is the deterministic fake). Unparseable
    * payloads fall through to a fully-fake row — everything around
    * the seam (batching, schema, null handling) is production
    * plumbing, and the fake is deterministic in the payload bytes so
    * tests can assert exact outputs. */
  private def decodeBatch(batch: Seq[Row]): Seq[Row] = batch.map { r =>
    val id = r.getLong(0)
    val kind = r.getString(1)
    val content = r.getAs[Array[Byte]](2)
    val real =
      if (kind == "image") decodeImage(content).map {
        case (w, h, fmt, feature) => Row(id, kind, w, h, fmt, 0, feature)
      } else if (kind == "audio") decodeWav(content).map {
        case (rate, channels, durMs, feature) =>
          Row(id, kind, rate, channels, "wav", durMs, feature)
      } else if (kind == "video") decodeGif(content).map {
        case (w, h, durMs, feature) =>
          Row(id, kind, w, h, "gif", durMs, feature)
      }.orElse(decodeAviMjpeg(content).map {
        case (w, h, durMs, feature) =>
          Row(id, kind, w, h, "avi", durMs, feature)
      }).orElse(decodeMp4Dct(content).map {
        case (w, h, durMs, feature) => // REAL transform-coded decode
          Row(id, kind, w, h, "mp4", durMs, feature)
      }).orElse(decodeMp4Meta(content).map {
        case (w, h, durMs) => // container facts real; pixel seam =
          // real-world H.264/VP9 entropy streams only
          Row(id, kind, w, h, "mp4", durMs, fakeFeature(content))
      }) else None
    real.getOrElse {
      // deterministic fake derived from the payload bytes
      val h = content.foldLeft(1125899906842597L)((a, b) => a * 31 + b)
      val w = 64 + math.floorMod(h, 1024).toInt
      val ht = 64 + math.floorMod(h >> 10, 1024).toInt
      val fmt = kind match {
        case "image" => "png"
        case "audio" => "wav"
        case _ => "mp4"
      }
      val dur = if (kind == "image") 0 else 1000 + math.floorMod(h >> 20, 60000).toInt
      Row(id, kind, w, ht, fmt, dur, fakeFeature(content))
    }
  }

  /** Decode / feature-extract over a media table: batched
    * mapPartitions, output schema `decodedSchema`. */
  def decode(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(decodedSchema)
    media
      .select(col("media_id"), col("kind"), col("content"))
      .mapPartitions(rows =>
        rows.grouped(batchSize).flatMap(decodeBatch))(enc)
  }

  /** Resize stage (stub: recomputes target dims, a real build calls
    * the scaler per batch). Shape: decoded → decoded.
    *
    * Both dims are replaced in ONE withColumns so the shared `scale`
    * expression binds to the ORIGINAL width/height for both — chained
    * withColumn calls would re-resolve `scale` inside the height
    * expression against the already-resized width, inflating the
    * height of landscape media (833×310 → 256×256 instead of 256×96;
    * caught by the q66 DuckDB oracle). */
  def resize(decoded: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxSide) / greatest(col("width"), col("height")).cast("double"))
    // outer least(): ceil on a float product can land on maxSide+1
    // when the ratio rounds up by one ulp
    decoded.withColumns(Map(
      "width" -> least(lit(maxSide), ceil(col("width") * scale).cast("int")),
      "height" -> least(lit(maxSide), ceil(col("height") * scale).cast("int"))))
  }

  /** Frame sampling for video rows: one output row per sampled frame
    * at `everyMs` spacing (posexplode of the frame index sequence —
    * a generator, so it parallelizes row-wise and never materializes
    * a frame list on the driver). */
  def sampleFrames(decoded: DataFrame, everyMs: Int): DataFrame =
    decoded.filter(col("kind") === "video")
      .select(col("media_id"), col("width"), col("height"),
        posexplode(sequence(lit(0), (col("duration_ms") / everyMs).cast("int")))
          .as(Seq("frame_idx", "frame_ms_step")))
      .select(col("media_id"), col("width"), col("height"),
        col("frame_idx"), (col("frame_idx") * everyMs).as("frame_ms"))

  /** Deterministic MJPEG-in-AVI sample clip: hand-assembled RIFF
    * (avih + strl headers, `00dc` movi chunks) around javax.imageio
    * JPEG frames — a REAL clip for the real decoder, built from the
    * same public chunk grammar the decoder walks. Each frame is a
    * half-black / half-white card, so the decoded luminance histogram
    * concentrates in bins 0 and 7 (JPEG ringing bleeds a little into
    * the neighbors). */
  def syntheticAviMjpeg(nFrames: Int = 3, w: Int = 33, h: Int = 21,
      usPerFrame: Int = 200000): Array[Byte] = {
    val jpegs = (0 until nFrames).map { _ =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >>> 24) & 0xff) }
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def even(n: Int): Int = n + (n & 1)
    val strlSize = 4 + (8 + 56) + (8 + 40)          // "strl" + strh + strf
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)    // "hdrl" + avih + LIST strl
    val moviSize = 4 + jpegs.map(j => 8 + even(j.length)).sum
    fourcc("RIFF"); le32(4 + (8 + hdrlSize) + (8 + moviSize)); fourcc("AVI ")
    fourcc("LIST"); le32(hdrlSize); fourcc("hdrl")
    fourcc("avih"); le32(56)
    le32(usPerFrame); le32(0); le32(0); le32(0)     // usPerFrame, maxBytes/s, padding, flags
    le32(nFrames); le32(0); le32(1); le32(0)        // totalFrames, initial, streams, sugBuf
    le32(w); le32(h); le32(0); le32(0); le32(0); le32(0) // dims + 4 reserved
    fourcc("LIST"); le32(strlSize); fourcc("strl")
    fourcc("strh"); le32(56)
    fourcc("vids"); fourcc("MJPG"); le32(0)         // type, handler, flags
    le16(0); le16(0); le32(0)                       // priority, language, initFrames
    le32(1); le32(1000000 / usPerFrame)             // scale, rate (fps)
    le32(0); le32(nFrames); le32(0); le32(10000); le32(0) // start, length, sugBuf, quality, sampleSize
    le16(0); le16(0); le16(w); le16(h)              // rcFrame
    fourcc("strf"); le32(40)
    le32(40); le32(w); le32(h); le16(1); le16(24)   // BITMAPINFOHEADER
    fourcc("MJPG"); le32(w * h * 3); le32(0); le32(0); le32(0); le32(0)
    fourcc("LIST"); le32(moviSize); fourcc("movi")
    jpegs.foreach { j =>
      fourcc("00dc"); le32(j.length); out.write(j, 0, j.length)
      if ((j.length & 1) == 1) out.write(0) // word alignment
    }
    out.toByteArray
  }

  /** Deterministic uncompressed-DIB (BI_RGB 24-bit) or RLE8 AVI
    * sample clip — half-black / half-white cards like the MJPEG one,
    * but with EXACT pixels (no JPEG ringing), so the decoded
    * histogram is precisely [0.5, 0, 0, 0, 0, 0, 0, 0.5]. The RLE8
    * variant encodes each row as two runs + EOL with a final
    * end-of-bitmap escape, over a 2-entry palette.
    *
    * `deltaTail = true` (RLE8 only) makes every frame after the first
    * a TRUE inter-frame: a delta-escape (0x00 0x02 dx dy) skips to
    * (2, 1) and paints a 2-cell black run — every other cell's value
    * comes from the previous frame via the carried canvas, so the
    * decoded clip-mean histogram proves temporal prediction ran
    * (a from-zero decode of that frame would read the skipped cells
    * as palette index 0 and land on a different mean). */
  def syntheticAviDib(rle8: Boolean = false, nFrames: Int = 2,
      w: Int = 4, h: Int = 2, usPerFrame: Int = 100000,
      deltaTail: Boolean = false): Array[Byte] = {
    val frames: Seq[Array[Byte]] =
      if (!rle8) {
        val stride = (w * 3 + 3) & ~3
        (0 until nFrames).map { _ =>
          val b = new Array[Byte](stride * h)
          for (y <- 0 until h; x <- 0 until w) {
            val v: Byte = if (x < w / 2) 0 else 0xff.toByte
            val o = y * stride + x * 3
            b(o) = v; b(o + 1) = v; b(o + 2) = v // B, G, R
          }
          b
        }
      } else (0 until nFrames).map { f =>
        val bos = new java.io.ByteArrayOutputStream()
        if (deltaTail && f > 0) {
          // inter-frame: delta-skip to (2, 1), repaint 2 cells black;
          // everything else persists from the previous frame
          bos.write(0); bos.write(2); bos.write(2); bos.write(1)
          bos.write(2); bos.write(0)
        } else {
          for (_ <- 0 until h) {
            bos.write(w / 2); bos.write(0) // encoded run: black
            bos.write(w - w / 2); bos.write(1) // encoded run: white
            bos.write(0); bos.write(0) // escape: end of line
          }
        }
        bos.write(0); bos.write(1) // escape: end of bitmap
        bos.toByteArray
      }
    val bits = if (rle8) 8 else 24
    val comp = if (rle8) 1 else 0
    val nPal = if (rle8) 2 else 0
    val out = new java.io.ByteArrayOutputStream()
    def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >>> 24) & 0xff) }
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def even(n: Int): Int = n + (n & 1)
    val strfBody = 40 + 4 * nPal
    val strlSize = 4 + (8 + 56) + (8 + strfBody)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + frames.map(f => 8 + even(f.length)).sum
    fourcc("RIFF"); le32(4 + (8 + hdrlSize) + (8 + moviSize)); fourcc("AVI ")
    fourcc("LIST"); le32(hdrlSize); fourcc("hdrl")
    fourcc("avih"); le32(56)
    le32(usPerFrame); le32(0); le32(0); le32(0)
    le32(nFrames); le32(0); le32(1); le32(0)
    le32(w); le32(h); le32(0); le32(0); le32(0); le32(0)
    fourcc("LIST"); le32(strlSize); fourcc("strl")
    fourcc("strh"); le32(56)
    fourcc("vids"); fourcc(if (rle8) "RLE8" else "DIB "); le32(0)
    le16(0); le16(0); le32(0)
    le32(1); le32(1000000 / usPerFrame)
    le32(0); le32(nFrames); le32(0); le32(10000); le32(0)
    le16(0); le16(0); le16(w); le16(h)
    fourcc("strf"); le32(strfBody)
    le32(40); le32(w); le32(h); le16(1); le16(bits) // BITMAPINFOHEADER
    le32(comp); le32(0); le32(0); le32(0); le32(nPal); le32(0)
    if (rle8) { // RGBQUAD palette: 0 = black, 1 = white
      out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(255); out.write(255); out.write(255); out.write(0)
    }
    fourcc("LIST"); le32(moviSize); fourcc("movi")
    frames.foreach { f =>
      fourcc("00dc"); le32(f.length); out.write(f, 0, f.length)
      if ((f.length & 1) == 1) out.write(0)
    }
    out.toByteArray
  }

  /** Minimal deterministic MP4: ftyp + moov(mvhd v0 + trak(tkhd v0))
    * + a small mdat of payload bytes. Carries real container facts
    * (w × h in tkhd's 16.16 fields, duration/timescale in mvhd) over
    * a transform-coded-pixel body the decoder cannot (and does not
    * pretend to) read. */
  def syntheticMp4(w: Int = 640, h: Int = 360, durationMs: Int = 2500,
      mdatPayload: Option[Array[Byte]] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = { out.write(((v >> 24) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write((v & 0xff).toInt) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    be32(20); tag("ftyp"); tag("isom"); be32(0); tag("isom")
    be32(216); tag("moov")
    be32(108); tag("mvhd"); be32(0) // v0 + flags
    be32(0); be32(0) // ctime, mtime
    be32(1000); be32(durationMs.toLong) // timescale 1000 -> dur in ms
    be32(0x00010000L); be16(0x0100); be16(0); be32(0); be32(0) // rate/vol/res
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      .foreach(be32) // unity matrix
    (0 until 6).foreach(_ => be32(0)) // pre_defined
    be32(2) // next_track_id
    be32(100); tag("trak")
    be32(92); tag("tkhd"); be32(0x00000007L) // v0 + enabled flags
    be32(0); be32(0); be32(1); be32(0) // ctime, mtime, track, reserved
    be32(durationMs.toLong); be32(0); be32(0) // duration, reserved x2
    be16(0); be16(0); be16(0); be16(0) // layer, altgroup, volume, res
    Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
      .foreach(be32)
    be32(w.toLong << 16); be32(h.toLong << 16) // 16.16 fixed
    mdatPayload match {
      case Some(p) =>
        be32(8L + p.length); tag("mdat"); out.write(p, 0, p.length)
      case None =>
        be32(24); tag("mdat")
        (0 until 16).foreach(i => out.write(i * 7 & 0xff)) // opaque
    }
    out.toByteArray
  }

  /** Deterministic transform-coded MP4: the same container as
    * [[syntheticMp4]], but the mdat carries the engine's GDCT
    * intra-DCT track — every frame REALLY forward-DCT'd, quantized,
    * zigzagged, and run/level-coded by [[fdctQuant]]/[[encodeBlock]],
    * so [[decodeMp4Dct]]'s inverse transform is a genuine codec
    * round-trip, not a fixture echo. The default frame is flat
    * half-cards (luminance 16 | 240): flat blocks carry only a DC
    * coefficient and round-trip EXACTLY under the flat quantizer, so
    * the decoded histogram is precisely [0.5, 0, …, 0, 0.5]. */
  def syntheticMp4Dct(w: Int = 16, h: Int = 8, nFrames: Int = 2,
      durationMs: Int = 1500,
      lum: (Int, Int) => Int = (x, _) => if (x < 8) 16 else 240)
      : Array[Byte] = {
    val payload = new java.io.ByteArrayOutputStream()
    def be16(v: Int): Unit = {
      payload.write((v >> 8) & 0xff); payload.write(v & 0xff)
    }
    def be32(v: Int): Unit = { be16(v >>> 16); be16(v & 0xffff) }
    payload.write("GDCT".getBytes("US-ASCII"))
    be16(w); be16(h); be16(nFrames)
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    (0 until nFrames).foreach { _ =>
      val fb = new java.io.ByteArrayOutputStream()
      for (by <- 0 until bh; bx <- 0 until bw) {
        val block = Array.tabulate(64) { i =>
          val (x, y) = (bx * 8 + i % 8, by * 8 + i / 8)
          if (x < w && y < h) lum(x, y) else 0
        }
        encodeBlock(fdctQuant(block), fb)
      }
      val bytes = fb.toByteArray
      be32(bytes.length); payload.write(bytes, 0, bytes.length)
    }
    syntheticMp4(w, h, durationMs, Some(payload.toByteArray))
  }

  /** Deterministic media fixture derived from the documents table:
    * text bytes as payload, kind cycling image/audio/video — plus one
    * REAL clip per JVM-decodable video codec (media_ids −1 MJPEG,
    * −2 uncompressed DIB, −3 RLE8, −4 RLE8 with true temporal-delta
    * inter-frames, −5 an MP4 whose container metadata parses for
    * real, −6 an MP4 whose GDCT intra-DCT samples DECODE for real
    * (forward-coded by the fixture, inverse-transformed by the
    * engine) — all below the doc_id range) so the q66 pipeline
    * exercises every real video decoder end-to-end, not just the
    * fake seam. */
  def mediaFromDocuments(spark: SparkSession, documents: DataFrame): DataFrame = {
    val clips = Seq(
      -1L -> syntheticAviMjpeg(),
      -2L -> syntheticAviDib(rle8 = false),
      -3L -> syntheticAviDib(rle8 = true),
      -4L -> syntheticAviDib(rle8 = true, deltaTail = true),
      -5L -> syntheticMp4(),
      -6L -> syntheticMp4Dct())
    val aviRow = clips.map { case (id, avi) =>
      spark.range(1).select(
        lit(id).as("media_id"), lit("video").as("kind"),
        lit(avi).as("content"),
        struct(lit("synthetic_avi").as("source"),
          lit(avi.length.toLong).as("n_bytes")).as("meta"))
    }.reduce(_ unionByName _)
    documents.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      struct(col("source").as("source"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
        .as("meta"))
      .unionByName(aviRow)
  }
}
