package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HEIF / AVIF still-image header walk — the leg the image family
  * (G4 sniff, G11 PNG, G46 JPEG SOF, G37 WebP) was missing for the
  * two formats modern phone cameras (HEIC) and the AV1 web (AVIF)
  * actually emit. Both are ISOBMFF (ISO/IEC 14496-12) like the G16
  * mp4 family, but STILL images: the structure is ftyp + a `meta`
  * box whose item tree carries the properties — dimensions live in
  * an `ispe` property inside meta→iprp→ipco, rotation in `irot`,
  * the primary item in `pitm`, the item census in `iinf` (ISO/IEC
  * 23008-12 §6/§A; AV1-in-HEIF per the public AOM AVIF spec).
  *
  * Scope whitelist (the ctts/G34 lesson — parse only layouts whose
  * math was reviewed, quarantine the rest): major brand must be
  * `heic` or `avif`; 32-bit box sizes only (size==1 extended-size
  * and size==0 to-EOF quarantine); `meta`/`pitm`/`iinf` must be
  * version 0 FullBoxes; the FIRST `ispe` in ipco is the reported
  * one. Missing ftyp/meta/ispe, any box overrunning its parent, or
  * a child length < 8 return NULL — never a guessed resolution. */
object HeifDims {

  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private def u16(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

  private def fourcc(b: Array[Byte], p: Int): String =
    new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** (brand, n_items, primary_id, width, height, rot_angle) row, or
    * null on malformation / out-of-scope layout. */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    // top-level walk: ftyp must come first (ISOBMFF §4.3)
    if (u32(b, 0) < 16 || u32(b, 0) > b.length) return null
    if (fourcc(b, 4) != "ftyp") return null
    val brand = fourcc(b, 8)
    if (brand != "heic" && brand != "avif") return null // whitelist
    var p = u32(b, 0).toInt
    var metaAt = -1
    var metaEnd = -1
    while (p + 8 <= b.length && metaAt < 0) {
      val len = u32(b, p)
      if (len < 8 || p + len > b.length) return null // 0/1/overrun
      if (fourcc(b, p + 4) == "meta") {
        metaAt = p; metaEnd = p + len.toInt
      }
      p += len.toInt
    }
    if (metaAt < 0) return null
    // meta is a FullBox: version must be 0 (scope)
    if (metaAt + 12 > b.length) return null
    if ((b(metaAt + 8) & 0xff) != 0) return null
    var q = metaAt + 12
    var nItems = -1L
    var primary = -1L
    var width = -1L
    var height = -1L
    var rot = 0L
    var sawIspe = false
    while (q + 8 <= metaEnd) {
      val len = u32(b, q)
      if (len < 8 || q + len > metaEnd) return null
      val fc = fourcc(b, q + 4)
      if (fc == "pitm") {
        if (len < 14 || (b(q + 8) & 0xff) != 0) return null // v0 only
        primary = u16(b, q + 12).toLong
      } else if (fc == "iinf") {
        if (len < 14 || (b(q + 8) & 0xff) != 0) return null // v0 only
        nItems = u16(b, q + 12).toLong
      } else if (fc == "iprp") {
        // iprp is a plain container; first child must be ipco
        var r = q + 8
        while (r + 8 <= q + len.toInt) {
          val clen = u32(b, r)
          if (clen < 8 || r + clen > q + len.toInt) return null
          if (fourcc(b, r + 4) == "ipco") {
            var t = r + 8
            while (t + 8 <= r + clen.toInt) {
              val plen = u32(b, t)
              if (plen < 8 || t + plen > r + clen.toInt) return null
              val pfc = fourcc(b, t + 4)
              if (pfc == "ispe" && !sawIspe) {
                if (plen < 20) return null
                width = u32(b, t + 12)
                height = u32(b, t + 16)
                sawIspe = true
              } else if (pfc == "irot") {
                if (plen < 9) return null
                rot = (b(t + 8) & 0x3).toLong
              }
              t += plen.toInt
            }
          }
          r += clen.toInt
        }
      }
      q += len.toInt
    }
    if (!sawIspe || width <= 0 || height <= 0) return null
    InternalRow(UTF8String.fromString(brand), nItems, primary,
      width, height, rot)
  }

  /** `heif_dims(payload)`: the parser entry and its Column builder. */
  val dimsCol: ByteParser = ByteParser("heif_dims", StructType(Seq(
    StructField("brand", StringType, nullable = false),
    StructField("n_items", LongType, nullable = false),
    StructField("primary_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("rot_angle", LongType, nullable = false))),
    nullOnMalformed = true)(parse)
}
