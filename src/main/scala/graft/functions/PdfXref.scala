package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** PDF CROSS-REFERENCE TABLE walk (ISO 32000-1 §7.5.4 — the
  * document-corpus leg of the header-demux family: after HTML, PDF is
  * the crawl's biggest extractable-text format, and its object
  * directory is the SAME random-access idea as ZIP's central
  * directory — the file END carries `startxref` pointing at a table
  * of absolute byte offsets for every object, so "where is object N"
  * is a trailer read plus a table row, never a scan): emits one row
  * per xref entry with its object number, byte offset / next-free
  * pointer, generation, and in-use flag — the ranged-read plan of an
  * object fetch.
  *
  * Wire format (all public ISO 32000-1): `%PDF-` header; trailer
  * `startxref\n<offset>\n%%EOF` scanned backward from EOF; at the
  * offset the keyword `xref`, then one or more subsections
  * `<start> <count>` each followed by `count` EXACTLY-20-byte
  * entries `nnnnnnnnnn ggggg n|f\r\n` (10-digit offset, 5-digit
  * generation, type letter, 2-byte EOL).
  *
  * Scope enforced (the ctts lesson): classic xref TABLES only —
  * PDF 1.5+ cross-reference STREAMS (the offset points at an object,
  * not the `xref` keyword) QUARANTINE, as do a missing `%PDF-`
  * header, a malformed trailer, a non-numeric field, an entry
  * without the fixed 20-byte shape, or a table running past EOF.
  * Incremental updates (`/Prev` chains) walk ONLY the newest table —
  * stated: the newest table is the live one; historical generations
  * are a provenance feature, not a read-plan feature. */
object PdfXref {

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Parse the decimal run in [p, q); -1 when empty/non-digit. */
  private def digits(b: Array[Byte], p: Int, q: Int): Long = {
    if (p >= q) return -1L
    var v = 0L
    var i = p
    while (i < q) {
      val c = b(i)
      if (c < '0' || c > '9') return -1L
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  private def startsWith(b: Array[Byte], p: Int, s: String): Boolean = {
    if (p < 0 || p + s.length > b.length) return false
    var i = 0
    while (i < s.length) {
      if (b(p + i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Entry table: array<struct<obj_num, offset, generation, in_use>>;
    * empty on malformation or an out-of-scope xref-stream layout. */
  def entries(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    if (len < 40 || !startsWith(bytes, 0, "%PDF-")) return empty
    // backward scan for "startxref" within the last 1 KB (the spec
    // bounds the trailer; real writers keep it in the last ~100 B)
    var sx = -1
    var p = len - 9
    val stop = math.max(0, len - 1024)
    while (p >= stop && sx < 0) {
      if (startsWith(bytes, p, "startxref")) sx = p
      p -= 1
    }
    if (sx < 0) return empty
    // the offset line: skip EOL(s), read digits to the next EOL
    var q = sx + 9
    while (q < len && (bytes(q) == '\r' || bytes(q) == '\n')) q += 1
    var e = q
    while (e < len && bytes(e) >= '0' && bytes(e) <= '9') e += 1
    val off = digits(bytes, q, e)
    if (off < 0L || off >= len) return empty
    var r = off.toInt
    if (!startsWith(bytes, r, "xref")) return empty // xref STREAM: out of scope
    r += 4
    while (r < len && (bytes(r) == '\r' || bytes(r) == '\n')) r += 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    // subsections until the "trailer" keyword
    while (!startsWith(bytes, r, "trailer")) {
      // "<start> <count>" line
      var s1 = r
      while (s1 < len && bytes(s1) >= '0' && bytes(s1) <= '9') s1 += 1
      val start = digits(bytes, r, s1)
      if (start < 0L || s1 >= len || bytes(s1) != ' ') return empty
      var s2 = s1 + 1
      while (s2 < len && bytes(s2) >= '0' && bytes(s2) <= '9') s2 += 1
      val count = digits(bytes, s1 + 1, s2)
      if (count < 0L || count > (1L << 22)) return empty
      r = s2
      while (r < len && (bytes(r) == '\r' || bytes(r) == '\n')) r += 1
      var i = 0L
      while (i < count) {
        if (r + 20 > len) return empty
        val o = digits(bytes, r, r + 10)
        if (o < 0L || bytes(r + 10) != ' ') return empty
        val g = digits(bytes, r + 11, r + 16)
        if (g < 0L || bytes(r + 16) != ' ') return empty
        val t = bytes(r + 17)
        if (t != 'n' && t != 'f') return empty
        out += InternalRow(start + i, o, g, if (t == 'n') 1L else 0L)
        r += 20
        i += 1L
      }
      if (r >= len) return empty
    }
    new GenericArrayData(out.toArray)
  }

  /** `pdf_xref(payload)`: the parser entry and its Column builder. */
  val pdfXref: ByteParser = ByteParser("pdf_xref", ArrayType(StructType(Seq(
    StructField("obj_num", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("generation", LongType, nullable = false),
    StructField("in_use", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(entries)
}
