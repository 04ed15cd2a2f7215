package graft.functions

import org.apache.spark.sql.types.LongType

/** Codegen'd JPEG SOF marker-chain walk: returns the frame dimensions
  * `(width << 32) | height` from the first SOF0-15 frame header
  * (minus DHT/JPG/DAC), or null when no SOF appears within 8 marker
  * hops of the leading 4 KB — the same contract as the unrolled
  * column walk it replaces in `Multimodal.sniffHeaders`.
  *
  * The unrolled form nested `seg_{i+1} = seg_i + 2 + be16(seg_i + 2)`
  * with `seg_i` appearing twice per hop, so the expression TREE for 8
  * hops held ~2⁸ copies of the hex-substring arithmetic; with the
  * sniffer's other branches the projection fell out of whole-stage
  * codegen and evaluated the duplicated tree interpreted, making
  * `mm_sniff` the slowest query in the suite (3.7 s at sf0.1). This
  * parser is the walk as the ~10-line loop it always was, on raw
  * payload bytes — no 8 KB hex detour, one tight codegen'd method.
  * Bounds short-circuit to null (a truncated chain can never throw);
  * a hop landing on a non-FF byte still advances by the declared
  * length, exactly like the column walk, so malformed chains drain
  * the hop budget rather than false-matching. */
object JpegSofDims {

  /** The marker-chain walk over the first 4 KB and 8 hops. */
  private def walk(buf: Array[Byte]): Any = {
    val lim = math.min(buf.length, 4096)
    var p = 2
    var hop = 0
    while (hop < 8 && p + 3 < lim) {
      val m = buf(p + 1) & 0xFF
      if ((buf(p) & 0xFF) == 0xFF && (m & 0xF0) == 0xC0
          && m != 0xC4 && m != 0xC8 && m != 0xCC) {
        if (p + 8 < lim) {
          val h = ((buf(p + 5) & 0xFF) << 8) | (buf(p + 6) & 0xFF)
          val w = ((buf(p + 7) & 0xFF) << 8) | (buf(p + 8) & 0xFF)
          return (w.toLong << 32) | h.toLong
        }
        return null
      }
      p += 2 + (((buf(p + 2) & 0xFF) << 8) | (buf(p + 3) & 0xFF))
      hop += 1
    }
    null
  }

  /** `jpeg_sof_dims(payload)`: packed `(width << 32) | height` of the
    * first SOF, else null. */
  val dims: ByteParser =
    ByteParser("jpeg_sof_dims", LongType, nullOnMalformed = true)(walk)
}
