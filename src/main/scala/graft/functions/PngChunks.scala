package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** PNG CHUNK WALK with CRC validation — the decode-free integrity
  * audit next to G11's pixel decode: before a pipeline spends zlib
  * inflate on billions of crawl images, it wants "is this PNG
  * structurally sound, what's in it, how big is the compressed
  * payload" from the chunk table alone. Wire format (public spec,
  * RFC 2083 / W3C PNG): 8-byte signature, then chunks of
  * [len:4][type:4][data:len][crc:4] where the CRC32 covers type+data;
  * IHDR must be first, IEND last and empty.
  *
  * Contract (the G46/G48 whitelist convention):
  *  - EVERY chunk's CRC32 is verified — one bad CRC quarantines the
  *    asset (never report metadata read through a corrupt table);
  *  - IHDR layout: u32 width/height, bit depth, color type
  *    (whitelist 0/2/3/4/6), compression 0, filter 0, interlace 0/1;
  *  - unknown ANCILLARY chunks (lowercase first letter — the spec's
  *    "safe to ignore" bit) are skipped; unknown CRITICAL chunks
  *    quarantine (a reader that ignores a critical chunk it cannot
  *    interpret violates the spec);
  *  - truncation, length overrun, missing IHDR/IEND, or trailing
  *    bytes after IEND all return NULL. */
object PngChunks {

  private val Sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a,
    0x0a).map(_.toByte)

  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  /** (width, height, bit_depth, color_type, interlace, n_chunks,
    * n_text, idat_bytes, ppm_x) row, or null. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 8 + 12 + 13 + 12) return null
    var i = 0
    while (i < 8) { if (b(i) != Sig(i)) return null; i += 1 }
    var p = 8
    var first = true
    var sawEnd = false
    var width = -1L; var height = -1L; var depth = -1L
    var color = -1L; var interlace = -1L
    var nChunks = 0L; var nText = 0L; var idatBytes = 0L
    var ppmX = 0L
    val crc = new java.util.zip.CRC32()
    while (p + 12 <= b.length && !sawEnd) {
      val len = u32(b, p)
      if (len > Int.MaxValue - 12 || p + 12 + len > b.length) return null
      val t = new String(b, p + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      crc.reset()
      crc.update(b, p + 4, 4 + len.toInt)
      if (crc.getValue != u32(b, p + 8 + len.toInt)) return null
      if (first && t != "IHDR") return null
      t match {
        case "IHDR" =>
          if (!first || len != 13) return null
          width = u32(b, p + 8)
          height = u32(b, p + 12)
          depth = (b(p + 16) & 0xff).toLong
          color = (b(p + 17) & 0xff).toLong
          if (color != 0 && color != 2 && color != 3 && color != 4 &&
            color != 6) return null
          if ((b(p + 18) & 0xff) != 0 || (b(p + 19) & 0xff) != 0)
            return null // compression/filter must be 0
          interlace = (b(p + 20) & 0xff).toLong
          if (interlace > 1) return null
          if (width <= 0 || height <= 0) return null
        case "IEND" =>
          if (len != 0) return null
          sawEnd = true
        case "IDAT" => idatBytes += len
        case "tEXt" | "iTXt" | "zTXt" => nText += 1
        case "pHYs" =>
          if (len != 9) return null
          ppmX = u32(b, p + 8)
        case other =>
          // ancillary (lowercase first letter) unknowns skip; an
          // unknown CRITICAL chunk quarantines
          if ((other.charAt(0) & 0x20) == 0) return null
      }
      nChunks += 1
      first = false
      p += 12 + len.toInt
    }
    if (!sawEnd || width < 0) return null
    if (p != b.length) return null // trailing bytes after IEND
    InternalRow(width, height, depth, color, interlace, nChunks,
      nText, idatBytes, ppmX)
  }

  /** `png_chunks(payload)`: the parser entry and its Column builder. */
  val chunksCol: ByteParser = ByteParser("png_chunks", StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("bit_depth", LongType, nullable = false),
    StructField("color_type", LongType, nullable = false),
    StructField("interlace", LongType, nullable = false),
    StructField("n_chunks", LongType, nullable = false),
    StructField("n_text", LongType, nullable = false),
    StructField("idat_bytes", LongType, nullable = false),
    StructField("ppm_x", LongType, nullable = false))),
    nullOnMalformed = true)(parse)
}
