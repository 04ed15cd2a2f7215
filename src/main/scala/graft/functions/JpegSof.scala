package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** JPEG START-OF-FRAME scan as row-local byte math — the dimensions
  * leg the image family was missing: G25's Exif walk reads the TIFF
  * metadata, but a JPEG's TRUE dimensions, bit precision, component
  * count and baseline-vs-progressive coding live in the SOF marker
  * segment, and JPEG is the single most common image format a crawl
  * corpus carries — "route progressive to the transcoder pool, drop
  * sub-64px thumbnails" is a header-sized read per asset, no
  * entropy-coded scan touched.
  *
  * Wire format (public spec, ITU-T T.81 §B.2): SOI (FF D8), then
  * marker segments FF <m> <len:2> <payload>, each length INCLUDING
  * its own two bytes; fill bytes FF before a marker are legal and
  * skipped. The scan walks segment-to-segment until SOF, counting
  * DQT segments on the way (a triage proxy for quantization-table
  * custom-ness).
  *
  * Scope whitelist (the ctts lesson): only SOF0 (baseline DCT) and
  * SOF2 (progressive DCT) parse — SOF1/3/5-7/9-11/13-15 (extended
  * sequential, lossless, arithmetic, hierarchical) quarantine, as do
  * a missing SOI, a standalone/RST marker in the header region, EOI
  * or SOS before any SOF, a segment length under 2, truncation, and
  * an SOF whose length disagrees with its component count. */
object JpegSof {

  /** SOF row (progressive, precision, width, height, n_components,
    * n_dqt), or null on malformation / out-of-scope coding. */
  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 4) return null
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return null // SOI
    val len = bytes.length
    var p = 2
    var nDqt = 0L
    while (p + 1 < len) {
      if ((bytes(p) & 0xff) != 0xff) return null // lost marker sync
      var q = p
      while (q + 1 < len && (bytes(q + 1) & 0xff) == 0xff) q += 1 // fill
      if (q + 1 >= len) return null // header ends in fill bytes
      val m = bytes(q + 1) & 0xff
      p = q + 2
      // standalone markers have no length: TEM/RSTn/EOI/SOI are all
      // out of place in the header region — quarantine, never guess
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd9) || m == 0x00)
        return null
      if (m == 0xda) return null // SOS before any SOF
      if (p + 2 > len) return null
      val segLen = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
      if (segLen < 2 || p + segLen > len) return null
      if (m == 0xc0 || m == 0xc2) { // SOF0 baseline / SOF2 progressive
        if (segLen < 8) return null
        val prec = bytes(p + 2) & 0xff
        val h = ((bytes(p + 3) & 0xff) << 8) | (bytes(p + 4) & 0xff)
        val w = ((bytes(p + 5) & 0xff) << 8) | (bytes(p + 6) & 0xff)
        val nc = bytes(p + 7) & 0xff
        if (segLen != 8 + 3 * nc) return null
        if (w <= 0 || h <= 0 || nc < 1 || nc > 4) return null
        return InternalRow(if (m == 0xc2) 1L else 0L, prec.toLong,
          w.toLong, h.toLong, nc.toLong, nDqt)
      }
      // other SOFn codings (extended/lossless/arithmetic/hierarchical)
      // would need their own layout review — whitelist says quarantine
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
        return null
      if (m == 0xdb) nDqt += 1L
      p += segLen
    }
    null // ran out of bytes before any SOF
  }

  /** `jpeg_sof(payload)`: the parser entry and its Column builder. */
  val sofCol: ByteParser = ByteParser("jpeg_sof", StructType(Seq(
    StructField("progressive", LongType, nullable = false),
    StructField("precision", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_components", LongType, nullable = false),
    StructField("n_dqt", LongType, nullable = false))),
    nullOnMalformed = true)(parse)
}
