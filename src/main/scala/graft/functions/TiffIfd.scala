package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXIF metadata via a TIFF IFD walk over the JPEG APP1 segment —
  * the still-image leg of the header-demux family (G16 boxes, G22
  * mp3 frames, G24 flac bits). Orientation is the single most
  * load-bearing byte in an image pipeline: a training corpus that
  * ignores tag 0x0112 silently feeds rotated pixels to the model,
  * and reading it costs a few hundred header bytes against a
  * multi-MB asset. The walk: JPEG marker scan (SOI, then
  * length-prefixed segments) to APP1 "Exif\0\0", then the TIFF
  * structure inside — BYTE-ORDER-POLYMORPHIC ("II" little / "MM"
  * big endian decide every later integer), magic 42, IFD0 at the
  * header's offset, 12-byte entries (tag, type, count, value-or-
  * offset; values ≤4 bytes live INLINE in the field, larger ones
  * point elsewhere in the TIFF space).
  *
  * Extracted: image width (0x0100, SHORT or LONG), orientation
  * (0x0112, SHORT 1-8), maker string (0x010F, ASCII — inline or
  * offset, trailing NULs stripped), X resolution (0x011A, RATIONAL:
  * u32 numerator / u32 denominator at its offset). Wire format is
  * the public TIFF 6.0 + Exif 2.x + JPEG (ITU T.81) specs.
  *
  * Contract split, exactly [[Mp4Demux.tracks]]: a structurally
  * malformed container (no SOI, no Exif APP1 before SOS/EOI, bad
  * TIFF magic, IFD out of bounds) returns NULL; a WELL-FORMED IFD
  * merely missing a tag (or pointing a value out of bounds) yields
  * a row with that field null — the directory DESCRIBES the asset,
  * partial metadata beats dropping the row. */
object TiffIfd {

  private def u16(b: Array[Byte], p: Int, le: Boolean): Int =
    if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

  private def u32(b: Array[Byte], p: Int, le: Boolean): Long =
    if (le) (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  /** EXIF row, or null when no well-formed Exif APP1 exists. */
  def exifMeta(b: Array[Byte]): InternalRow = {
    val len = b.length
    if (len < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return null
    // JPEG marker scan for APP1 "Exif\0\0"
    var p = 2
    var tiff = -1
    var tiffEnd = -1
    while (tiff < 0) {
      if (p + 4 > len || (b(p) & 0xff) != 0xff) return null
      val marker = b(p + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return null // EOI/SOS first
      val segLen = ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      if (segLen < 2 || p + 2 + segLen > len) return null
      if (marker == 0xe1 && segLen >= 10 &&
          b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
          b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
        tiff = p + 10
        tiffEnd = p + 2 + segLen
      } else p += 2 + segLen
    }
    if (tiff + 8 > tiffEnd) return null
    val le =
      if (b(tiff) == 'I' && b(tiff + 1) == 'I') true
      else if (b(tiff) == 'M' && b(tiff + 1) == 'M') false
      else return null
    if (u16(b, tiff + 2, le) != 42) return null
    val ifdOff = u32(b, tiff + 4, le)
    if (ifdOff < 8L || tiff + ifdOff + 2L > tiffEnd) return null
    val base = tiff + ifdOff.toInt
    val n = u16(b, base, le)
    if (base + 2 + 12 * n + 4 > tiffEnd) return null
    var width: Any = null
    var orient: Any = null
    var make: Any = null
    var xn: Any = null
    var xd: Any = null
    var e = 0
    while (e < n) {
      val ep = base + 2 + 12 * e
      val tag = u16(b, ep, le)
      val typ = u16(b, ep + 2, le)
      val cnt = u32(b, ep + 4, le)
      if (tag == 0x0100) {
        if (typ == 3) width = u16(b, ep + 8, le).toLong
        else if (typ == 4) width = u32(b, ep + 8, le)
      } else if (tag == 0x0112) {
        if (typ == 3) orient = u16(b, ep + 8, le).toLong
      } else if (tag == 0x010f) {
        if (typ == 2 && cnt >= 1L && cnt <= 4096L) {
          val c = cnt.toInt
          val at =
            if (c <= 4) ep + 8
            else {
              val off = u32(b, ep + 8, le)
              if (tiff + off + c > tiffEnd) -1 else tiff + off.toInt
            }
          if (at >= 0) {
            var end = at + c
            while (end > at && b(end - 1) == 0) end -= 1
            make = UTF8String.fromBytes(b, at, end - at)
          }
        }
      } else if (tag == 0x011a) {
        if (typ == 5 && cnt == 1L) {
          val off = u32(b, ep + 8, le)
          if (tiff + off + 8 <= tiffEnd) {
            xn = u32(b, tiff + off.toInt, le)
            xd = u32(b, tiff + off.toInt + 4, le)
          }
        }
      }
      e += 1
    }
    InternalRow(UTF8String.fromString(if (le) "II" else "MM"),
      n.toLong, width, orient, make, xn, xd)
  }

  /** `exif_meta(payload)`: the parser entry and its Column builder. */
  val exifMetaCol: ByteParser = ByteParser("exif_meta", StructType(Seq(
    StructField("endian", StringType, nullable = false),
    StructField("n_entries", LongType, nullable = false),
    StructField("image_width", LongType, nullable = true),
    StructField("orientation", LongType, nullable = true),
    StructField("make", StringType, nullable = true),
    StructField("xres_num", LongType, nullable = true),
    StructField("xres_den", LongType, nullable = true))),
    nullOnMalformed = true)(exifMeta)
}
