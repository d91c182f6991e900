package graft.multimodal

import java.nio.ByteBuffer
import java.util.zip.{CRC32, Deflater, Inflater}

/** Minimal raster model + spec-compliant PNG codec with NO java.awt /
  * ImageIO dependency.
  *
  * Why not ImageIO: this container's `java.desktop` module image is
  * stripped — `sun.awt.AppContext`, `sun.awt.SunToolkit`,
  * `java.awt.Toolkit` and `sun.awt.AWTAccessor$ToolkitAccessor` are zapped
  * class files (ClassFormatError: bad magic), so `ImageIO.<clinit>` and
  * even `new BufferedImage(...)` (whose raster pulls in
  * `java.awt.Rectangle` → `Toolkit`) throw. Verified by direct JVM probe.
  *
  * So the codec is implemented from the PUBLIC PNG specification
  * (ISO/IEC 15948, a.k.a. RFC 2083): zlib DEFLATE via `java.util.zip`,
  * big-endian chunk framing with CRC-32, and full five-filter scanline
  * reconstruction (None / Sub / Up / Average / Paeth). Supported pixel
  * formats: 8-bit grayscale (color type 0), truecolor (2), gray+alpha (4)
  * and truecolor+alpha (6), non-interlaced — the overwhelmingly common
  * shapes. Palette (3), 16-bit and Adam7 inputs are rejected as
  * undecodable rather than mis-decoded. JPEG stays environment-limited
  * (and being lossy it is useless for exact oracle gates anyway).
  */
object Image {

  /** Interleaved 8-bit raster: `data((y·w + x)·bands + b)`. */
  final case class Raster(width: Int, height: Int, bands: Int,
      data: Array[Byte]) {
    require(data.length == width * height * bands, "raster size mismatch")

    def sample(x: Int, y: Int, b: Int): Int =
      data((y * width + x) * bands + b) & 0xff

    /** Integer luma: the raw sample for grayscale (1–2 bands), Rec.601
      * ((299r+587g+114b)/1000, integer) for color — bit-identical on
      * every engine, no float rounding.
      */
    def luma(x: Int, y: Int): Int =
      if (bands <= 2) sample(x, y, 0)
      else (sample(x, y, 0) * 299 + sample(x, y, 1) * 587 +
        sample(x, y, 2) * 114) / 1000
  }

  private val Signature =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def colorType(bands: Int): Int = bands match {
    case 1 => 0
    case 2 => 4
    case 3 => 2
    case 4 => 6
    case n => throw new IllegalArgumentException(s"unsupported bands: $n")
  }

  private def bandsOf(colorType: Int): Option[Int] = colorType match {
    case 0 => Some(1)
    case 2 => Some(3)
    case 4 => Some(2)
    case 6 => Some(4)
    case _ => None // 3 = palette: rejected, never silently mis-decoded
  }

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
      payload: Array[Byte]): Unit = {
    val buf = ByteBuffer.allocate(4).putInt(payload.length).array()
    out.write(buf)
    val typeBytes = typ.getBytes("US-ASCII")
    out.write(typeBytes)
    out.write(payload)
    val crc = new CRC32()
    crc.update(typeBytes)
    crc.update(payload)
    out.write(ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** PNG-encode a raster. Rows are filtered with Sub (row 0) and Paeth
    * (all other rows) so every decode — ours or a foreign engine's —
    * exercises genuine filter reconstruction, not a filter-0 passthrough.
    */
  def encodePng(r: Raster): Array[Byte] = {
    val bpp = r.bands
    val stride = r.width * bpp
    val raw = new Array[Byte]((stride + 1) * r.height)
    var y = 0
    while (y < r.height) {
      val rowOff = y * (stride + 1)
      val filter = if (y == 0) 1 else 4
      raw(rowOff) = filter.toByte
      var i = 0
      while (i < stride) {
        val cur = r.data(y * stride + i) & 0xff
        val a = if (i >= bpp) r.data(y * stride + i - bpp) & 0xff else 0
        val b = if (y > 0) r.data((y - 1) * stride + i) & 0xff else 0
        val c = if (y > 0 && i >= bpp) r.data((y - 1) * stride + i - bpp) & 0xff else 0
        val pred = if (filter == 1) a else paeth(a, b, c)
        raw(rowOff + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zOut = new java.io.ByteArrayOutputStream()
    val zBuf = new Array[Byte](8192)
    while (!deflater.finished())
      zOut.write(zBuf, 0, deflater.deflate(zBuf))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature)
    chunk(out, "IHDR", ByteBuffer.allocate(13)
      .putInt(r.width).putInt(r.height)
      .put(8.toByte).put(colorType(r.bands).toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk(out, "IDAT", zOut.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode a PNG. None for null or anything that is not a supported
    * PNG — corrupt bytes are data, not task failures.
    */
  def decodePng(bytes: Array[Byte]): Option[Raster] = {
    if (bytes == null || bytes.length < Signature.length + 12 ||
        !bytes.startsWith(Signature)) return None
    try {
      var pos = Signature.length
      var width = 0; var height = 0; var bands = 0
      var ok = false
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done && pos + 8 <= bytes.length) {
        val len = ByteBuffer.wrap(bytes, pos, 4).getInt
        val typ = new String(bytes, pos + 4, 4, "US-ASCII")
        if (len < 0 || pos + 12 + len > bytes.length) return None
        // chunk CRC-32 over type+data (ISO 15948 §5.3) — corruption is None
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, pos + 4, 4 + len)
        if (crc.getValue.toInt != ByteBuffer.wrap(bytes, pos + 8 + len, 4).getInt)
          return None
        typ match {
          case "IHDR" =>
            val b = ByteBuffer.wrap(bytes, pos + 8, len)
            width = b.getInt; height = b.getInt
            val bitDepth = b.get() & 0xff
            val ct = b.get() & 0xff
            b.get() // compression (0)
            b.get() // filter method (0)
            val interlace = b.get() & 0xff
            if (bitDepth != 8 || interlace != 0) return None
            bandsOf(ct) match {
              case Some(n) => bands = n; ok = true
              case None => return None
            }
          case "IDAT" => idat.write(bytes, pos + 8, len)
          case "IEND" => done = true
          case _ => // ancillary chunk: skip
        }
        pos += 12 + len
      }
      if (!ok || width <= 0 || height <= 0) return None
      // adversarial-IHDR guard: bound the decode buffer BEFORE allocating.
      // Deflate expands at most ~1032:1, so a raw size beyond that bound
      // cannot be filled by the IDAT we actually have — and an absolute cap
      // keeps a forged 46000×46000 header from a multi-GB allocation (OOM
      // is an Error, not an Exception — it would kill the task, not None)
      val rawLen = (width.toLong * bands + 1) * height
      val maxByInput = idat.size().toLong * 1032 + 64
      if (rawLen > (1L << 28) || rawLen > maxByInput) return None
      val stride = width * bands
      val raw = new Array[Byte](rawLen.toInt)
      val inflater = new Inflater()
      inflater.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          return None
        off += n
      }
      inflater.end()
      if (off < raw.length) return None
      val data = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        val rowOff = y * (stride + 1)
        val filter = raw(rowOff) & 0xff
        var i = 0
        while (i < stride) {
          val x = raw(rowOff + 1 + i) & 0xff
          val a = if (i >= bands) data(y * stride + i - bands) & 0xff else 0
          val b = if (y > 0) data((y - 1) * stride + i) & 0xff else 0
          val c = if (y > 0 && i >= bands)
            data((y - 1) * stride + i - bands) & 0xff else 0
          val v = filter match {
            case 0 => x
            case 1 => x + a
            case 2 => x + b
            case 3 => x + (a + b) / 2
            case 4 => x + paeth(a, b, c)
            case _ => return None
          }
          data(y * stride + i) = (v & 0xff).toByte
          i += 1
        }
        y += 1
      }
      Some(Raster(width, height, bands, data))
    } catch {
      case _: Exception => None
    }
  }
}
