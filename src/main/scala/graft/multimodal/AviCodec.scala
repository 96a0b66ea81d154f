package graft.multimodal

/** Direct RIFF/AVI container codec for UNCOMPRESSED (BI_RGB DIB) and
  * MJPG (motion-JPEG) video — the video analog of [[WavCodec]], and
  * what retires the last multimodal stub with REAL decode.
  *
  * The JRE ships no video *container* codec, but the AVI container is
  * a public, fixed layout (RIFF lists `hdrl`(avih, strl(strh, strf))
  * + `movi`(00db/00dc…)), and two frame formats are decodable with
  * zero dependencies:
  *  - BI_RGB DIB — uncompressed and lossless: a decoded frame's
  *    pixels must equal the encoded pattern exactly, which makes the
  *    decoder closed-form-oracle-checkable the same way PNG and PCM
  *    are;
  *  - MJPG — each `00dc` chunk is a standalone JPEG, decoded
  *    per-frame through the same imageio path the image pipeline
  *    already ships. JPEG is lossy, so MJPG's exactness contract is
  *    dims/fps/frame-count plus bounded pixel error (MjpgDecodeSpec),
  *    not a bit-exact checksum.
  * Other compressed fourccs (XVID, H264, …) return None — a
  * production pipeline plugs an FFI codec into the same
  * [[VideoPipeline]] mapPartitions shape.
  *
  * Decoded frames are exposed in DIB wire layout regardless of source
  * codec: bottom-up BGR24 with rows padded to 4 bytes; the reader
  * exposes top-down row access so checksum math matches image
  * conventions.
  */
object AviCodec {

  ImageIoTuning.applied // memory-cached ImageIO streams (no temp files)

  /** 'MJPG' as the little-endian biCompression dword. */
  private val MjpgFourcc: Long =
    ('M' & 0xFFL) | (('J' & 0xFFL) << 8) | (('P' & 0xFFL) << 16) | (('G' & 0xFFL) << 24)

  final case class Video(width: Int, height: Int, fps: Int,
                         frames: IndexedSeq[Array[Byte]]) {
    def rowBytes: Int = ((width * 3) + 3) / 4 * 4
    /** Blue-channel value at image coordinates (x, y top-down). */
    def channel0(frame: Array[Byte], x: Int, y: Int): Int =
      frame((height - 1 - y) * rowBytes + 3 * x) & 0xFF
  }

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Parse an uncompressed-DIB AVI. None for anything else
    * (compressed fourcc, non-24-bit, truncated, not-AVI). */
  def read(bytes: Array[Byte]): Option[Video] = {
    if (bytes == null || bytes.length < 24) return None
    if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "AVI ") return None
    var width, height, bits = 0
    var scale, rate = 0L
    var compression = -1L
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]

    def walk(off0: Int, end: Int): Boolean = {
      var off = off0
      while (off + 8 <= end) {
        val id = tag(bytes, off)
        val size = le32(bytes, off + 4).toInt
        val body = off + 8
        if (body + size > end) return false // truncated chunk
        id match {
          case "LIST" =>
            if (!walk(body + 4, body + size)) return false // skip list type
          case "strh" =>
            if (size >= 32 && tag(bytes, body) == "vids") {
              scale = le32(bytes, body + 20)
              rate = le32(bytes, body + 24)
            }
          case "strf" =>
            if (size >= 40) {
              width = le32(bytes, body + 4).toInt
              height = le32(bytes, body + 8).toInt
              bits = le16(bytes, body + 14)
              compression = le32(bytes, body + 16)
            }
          case "00db" | "00dc" =>
            frames += java.util.Arrays.copyOfRange(bytes, body, body + size)
          case _ => () // avih/idx1/JUNK…: skip
        }
        off = body + size + (size & 1) // chunks are word-aligned
      }
      true
    }
    if (!walk(12, bytes.length)) return None
    if (width <= 0 || height <= 0 || scale <= 0 || rate <= 0 ||
        frames.isEmpty) return None
    val fps = (rate / scale).toInt
    if (compression == 0L && bits == 24) {
      // BI_RGB DIB: frames are already in wire layout
      val rb = ((width * 3) + 3) / 4 * 4
      if (frames.exists(_.length != rb * height)) return None
      Some(Video(width, height, fps, frames.toIndexedSeq))
    } else if (compression == MjpgFourcc) {
      // MJPG: every chunk is a standalone JPEG; decode per frame and
      // normalize to the DIB layout so downstream consumers see one
      // frame format. Any frame failing to decode, or decoding to
      // dims other than the header's, fails the whole clip (a torn
      // stream, not a video).
      val decoded = frames.map(jpegToDib(_, width, height))
      if (decoded.exists(_.isEmpty)) None
      else Some(Video(width, height, fps, decoded.map(_.get).toIndexedSeq))
    } else None // other compressed fourccs: no built-in decoder (FFI slot)
  }

  // one JPEG reader per task thread: ImageIO.read scans the plugin
  // registry per call — pure overhead at thousands of frames/task
  // (readers are stateful and not thread-safe -> ThreadLocal)
  @transient private lazy val jpegReaderLocal =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    }

  /** One JPEG frame → bottom-up padded BGR24 (DIB wire layout);
    * None on decode failure or dimension mismatch. */
  private def jpegToDib(jpeg: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      val reader = jpegReaderLocal.get()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(jpeg))
      val img =
        try { reader.setInput(iis); reader.read(0) }
        finally { reader.setInput(null); iis.close() }
      if (img == null || img.getWidth != w || img.getHeight != h) None
      else {
        val rb = ((w * 3) + 3) / 4 * 4
        val out = new Array[Byte](rb * h)
        var y = 0
        while (y < h) {
          val rowOff = (h - 1 - y) * rb
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(rowOff + 3 * x) = (rgb & 0xFF).toByte           // B
            out(rowOff + 3 * x + 1) = ((rgb >> 8) & 0xFF).toByte  // G
            out(rowOff + 3 * x + 2) = ((rgb >> 16) & 0xFF).toByte // R
            x += 1
          }
          y += 1
        }
        Some(out)
      }
    } catch {
      // ImageIO plugins throw RuntimeExceptions (IllegalArgument,
      // ArrayIndexOutOfBounds, …) on malformed JPEG bytes, not just
      // IOException — any decode failure is "torn stream, not a
      // video", never a crash of the whole read
      case scala.util.control.NonFatal(_) => None
    }

  /** Minimal uncompressed-DIB AVI bytes: RIFF(hdrl(avih,
    * strl(strh, strf)) + movi(00db…)). `frames` are bottom-up BGR24
    * rows padded to 4 bytes (the DIB wire layout). */
  def write(width: Int, height: Int, fps: Int,
            frames: Seq[Array[Byte]]): Array[Byte] = {
    val rb = ((width * 3) + 3) / 4 * 4
    val frameBytes = rb * height
    require(frames.forall(_.length == frameBytes), "bad frame size")
    container(width, height, fps, handler = "DIB ", compression = 0,
      sampleSize = frameBytes, chunkId = "00db", frames = frames)
  }

  /** Minimal MJPG AVI bytes: same container, each frame a standalone
    * JPEG in a `00dc` chunk (variable-size, word-aligned). */
  def writeMjpg(width: Int, height: Int, fps: Int,
                jpegFrames: Seq[Array[Byte]]): Array[Byte] =
    container(width, height, fps, handler = "MJPG", compression = MjpgFourcc.toInt,
      sampleSize = 0, chunkId = "00dc", frames = jpegFrames)

  private def container(width: Int, height: Int, fps: Int, handler: String,
                        compression: Int, sampleSize: Int, chunkId: String,
                        frames: Seq[Array[Byte]]): Array[Byte] = {
    val n = frames.size
    val maxFrame = frames.map(_.length).foldLeft(0)(math.max)
    // chunks are word-aligned: odd-size frames (JPEG) get a pad byte
    val moviSize = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = out.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); out.putInt(riffSize); fourcc("AVI ")
    fourcc("LIST"); out.putInt(hdrlSize); fourcc("hdrl")
    fourcc("avih"); out.putInt(56)
    out.putInt(1000000 / fps)           // dwMicroSecPerFrame
      .putInt(maxFrame * fps)           // dwMaxBytesPerSec
      .putInt(0).putInt(0)              // padding, flags
      .putInt(n).putInt(0).putInt(1)    // totalFrames, initial, streams
      .putInt(maxFrame)                 // suggested buffer
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0) // reserved
    fourcc("LIST"); out.putInt(4 + (8 + 56) + (8 + 40)); fourcc("strl")
    fourcc("strh"); out.putInt(56)
    fourcc("vids"); fourcc(handler)
    out.putInt(0)                        // flags
      .putShort(0.toShort).putShort(0.toShort) // priority, language
      .putInt(0)                         // initial frames
      .putInt(1).putInt(fps)             // dwScale, dwRate
      .putInt(0).putInt(n)               // start, length (frames)
      .putInt(maxFrame).putInt(-1)       // suggested buffer, quality
      .putInt(sampleSize)                // 0 = variable (compressed)
      .putShort(0.toShort).putShort(0.toShort) // rcFrame
      .putShort(width.toShort).putShort(height.toShort)
    fourcc("strf"); out.putInt(40)
    out.putInt(40)                       // biSize
      .putInt(width).putInt(height)
      .putShort(1.toShort).putShort(24.toShort) // planes, bits
      .putInt(compression)               // BI_RGB or 'MJPG'
      .putInt(maxFrame)
      .putInt(0).putInt(0).putInt(0).putInt(0) // pels, clr
    fourcc("LIST"); out.putInt(moviSize); fourcc("movi")
    frames.foreach { f =>
      fourcc(chunkId); out.putInt(f.length); out.put(f)
      if ((f.length & 1) == 1) out.put(0.toByte)
    }
    out.array()
  }
}
