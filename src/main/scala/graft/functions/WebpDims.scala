package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WebP dimension parse — the modern-web leg of the image-header
  * family (G4 sniffs PNG/GIF/JPEG/BMP; half the crawled web now
  * ships WebP): the format has THREE incompatible header layouts
  * behind one RIFF fourcc, and reading the wrong one yields a
  * plausible-but-wrong resolution — exactly the silent failure the
  * quarantine convention exists to prevent. Per the public WebP
  * container/bitstream spec (Google "WebP Container Specification" /
  * RFC 9649):
  *
  *  - `VP8 ` (lossy):   3-byte frame tag, start code 9D 01 2A, then
  *                      u16le width, u16le height — each 14 bits of
  *                      dimension + 2 scale bits (masked off).
  *  - `VP8L` (lossless): signature byte 2F, then a 32-bit LSB-first
  *                      field: width−1 (14 bits), height−1 (14),
  *                      alpha (1), version (3, must be 0).
  *  - `VP8X` (extended): 4 flag bytes, then 24-bit LE canvas
  *                      width−1 and height−1.
  *
  * Quarantine: missing RIFF/WEBP magic, an unknown first chunk, a
  * truncated payload, a bad VP8 start code / VP8L signature /
  * nonzero VP8L version all return NULL — never a wrong resolution. */
object WebpDims {

  private def u16le(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)

  private def u24le(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)

  /** (variant, width, height) row, or null on malformation. */
  def parse(b: Array[Byte]): InternalRow = {
    // 21 bytes cover RIFF + WEBP + the first chunk fourcc; each
    // variant branch enforces its own payload length
    if (b == null || b.length < 21) return null
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'E' || b(10) != 'B' || b(11) != 'P')
      return null
    val fourcc = new String(b, 12, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    fourcc match {
      case "VP8 " =>
        // payload at 20: frame tag(3), start code, dims
        if (b.length < 30) return null
        if (b(23) != 0x9d.toByte || b(24) != 0x01.toByte ||
            b(25) != 0x2a.toByte) return null
        val w = u16le(b, 26) & 0x3fff
        val h = u16le(b, 28) & 0x3fff
        row("vp8", w, h)
      case "VP8L" =>
        if (b.length < 25) return null
        if (b(20) != 0x2f.toByte) return null
        val bits = (b(21) & 0xffL) | ((b(22) & 0xffL) << 8) |
          ((b(23) & 0xffL) << 16) | ((b(24) & 0xffL) << 24)
        val w = ((bits & 0x3fff) + 1).toInt
        val h = (((bits >> 14) & 0x3fff) + 1).toInt
        val version = (bits >> 29) & 0x7
        if (version != 0) return null
        row("vp8l", w, h)
      case "VP8X" =>
        if (b.length < 30) return null
        val w = u24le(b, 24) + 1
        val h = u24le(b, 27) + 1
        row("vp8x", w, h)
      case _ => null
    }
  }

  private def row(v: String, w: Int, h: Int): InternalRow =
    if (w <= 0 || h <= 0) null
    else InternalRow(UTF8String.fromString(v), w.toLong, h.toLong)

  /** `webp_dims(payload)`: the parser entry and its Column builder. */
  val dimsCol: ByteParser = ByteParser("webp_dims", StructType(Seq(
    StructField("variant", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false))),
    nullOnMalformed = true)(parse)
}
