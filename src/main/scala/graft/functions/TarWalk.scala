package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** POSIX ustar member walk — the SHARD leg of the header-demux
  * family (G16 mp4, G22 mp3, G24 flac): web-scale training corpora
  * ship as tar shards (the WebDataset convention — members named
  * `{sample_key}.{ext}`, one sample = the members sharing a key), so
  * "what is inside this 10 GB shard and where" must come from a
  * header walk that reads 512 bytes per member and SEEKS past the
  * data — never streaming the payloads through the engine. The
  * emitted (name, offset, size) table IS the ranged-read plan: a
  * downstream stage fetches exactly the members its sample selection
  * needs, which at 100 TB is the difference between reading the
  * index and reading the lake.
  *
  * Wire format is the public POSIX.1-1988 ustar layout (also
  * GNU tar docs, "Basic Tar Format"): 512-byte header blocks —
  * name[100] @0, size[12] octal @124, chksum[8] octal @148 (computed
  * with the field itself blanked to spaces), typeflag @156, magic
  * "ustar" @257, prefix[155] @345 — each followed by the member data
  * padded to 512; two zero blocks end the archive.
  *
  * Quarantine contract (the family convention — malformed degrades
  * to EMPTY, never to a wrong offset): bad magic, a non-octal or
  * base-256 (GNU extension, high bit set) size, a checksum mismatch,
  * or data running past EOF all return an empty array. A zero block
  * or clean EOF ends the walk normally. */
object TarWalk {

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Parse the NUL/space-terminated octal field at [p, p+n); -1 on
    * any malformation (empty, non-octal digit, base-256 marker). */
  private def octal(b: Array[Byte], p: Int, n: Int): Long = {
    if ((b(p) & 0x80) != 0) return -1L // GNU base-256: quarantine
    var i = p
    val end = p + n
    while (i < end && b(i) == ' ') i += 1 // leading spaces (GNU pads)
    var v = 0L
    var seen = false
    while (i < end && b(i) != 0 && b(i) != ' ') {
      val c = b(i)
      if (c < '0' || c > '7') return -1L
      v = (v << 3) | (c - '0').toLong
      seen = true
      i += 1
    }
    if (seen) v else -1L
  }

  /** Header checksum: every byte unsigned-summed with the chksum
    * field (148-155) counted as eight spaces. */
  private def checksum(b: Array[Byte], p: Int): Long = {
    var s = 0L
    var i = 0
    while (i < 512) {
      s += (if (i >= 148 && i < 156) 0x20 else b(p + i) & 0xff)
      i += 1
    }
    s
  }

  private def zeroBlock(b: Array[Byte], p: Int): Boolean = {
    var i = 0
    while (i < 512) {
      if (b(p + i) != 0) return false
      i += 1
    }
    true
  }

  /** NUL-terminated string field at [p, p+n). */
  private def str(b: Array[Byte], p: Int, n: Int): String = {
    var e = p
    val end = p + n
    while (e < end && b(e) != 0) e += 1
    new String(b, p, e - p, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The `path=` record of a PAX extended header block (POSIX
    * "%d %s=%s\n" records, length counts the whole record, values
    * are UTF-8); null when absent, "" sentinel on malformation. */
  private def paxPath(b: Array[Byte], off: Int, size: Int): String = {
    var p = off
    val end = off + size
    var path: String = null
    while (p < end) {
      var q = p
      var recLen = 0
      while (q < end && b(q) >= '0' && b(q) <= '9') {
        recLen = recLen * 10 + (b(q) - '0'); q += 1
      }
      if (q >= end || b(q) != ' ' || recLen <= 0 ||
          p + recLen > end || b(p + recLen - 1) != '\n') return ""
      val kv = new String(b, q + 1, p + recLen - 1 - (q + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = kv.indexOf('=')
      if (eq < 0) return ""
      if (kv.substring(0, eq) == "path") path = kv.substring(eq + 1)
      p += recLen
    }
    path
  }

  /** Member table: array<struct<entry_idx, name, offset, size,
    * typeflag>> — offset addresses the member DATA (header + 512);
    * empty on any malformation. PAX extended headers (typeflag x)
    * and GNU long-name blocks (L) apply their recorded name to the
    * FOLLOWING member and are not emitted as members themselves;
    * global PAX headers (g) and GNU long-linkname blocks (K) are
    * skipped with their data blocks consumed — metadata blobs never
    * index as samples (GNU tar docs, POSIX pax Interchange Format). */
  def members(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    var idx = 0L
    var pendingName: String = null // from a preceding 'x' or 'L'
    while (p + 512 <= len) {
      if (zeroBlock(bytes, p)) return new GenericArrayData(out.toArray)
      // POSIX magic "ustar" at 257 (v7 archives lack it: quarantine)
      if (bytes(p + 257) != 'u' || bytes(p + 258) != 's' ||
          bytes(p + 259) != 't' || bytes(p + 260) != 'a' ||
          bytes(p + 261) != 'r') return empty
      val size = octal(bytes, p + 124, 12)
      if (size < 0L) return empty
      val declared = octal(bytes, p + 148, 8)
      if (declared < 0L || declared != checksum(bytes, p)) return empty
      val tf = bytes(p + 156)
      val blocks = (size + 511L) / 512L
      if (p + 512L + blocks * 512L > len) return empty // truncated data
      if (tf == 'x' || tf == 'g' || tf == 'L' || tf == 'K') {
        if (size > (1L << 20)) return empty // metadata blob cap
        if (tf == 'x') {
          val path = paxPath(bytes, p + 512, size.toInt)
          if (path != null && path.isEmpty) return empty // malformed PAX
          if (path != null) pendingName = path
        } else if (tf == 'L') {
          // GNU longname: NUL-terminated name fills the data blocks
          var e = p + 512
          val dEnd = p + 512 + size.toInt
          while (e < dEnd && bytes(e) != 0) e += 1
          pendingName = new String(bytes, p + 512, e - (p + 512),
            java.nio.charset.StandardCharsets.UTF_8)
        } // 'g'/'K': consume and drop
      } else {
        val name =
          if (pendingName != null) pendingName
          else {
            val base = str(bytes, p, 100)
            val prefix = str(bytes, p + 345, 155)
            if (prefix.isEmpty) base else prefix + "/" + base
          }
        pendingName = null
        val typeflag = if (tf == 0) "0" else tf.toChar.toString
        out += InternalRow(idx, UTF8String.fromString(name),
          p + 512L, size, UTF8String.fromString(typeflag))
        idx += 1L
      }
      p += 512 + (blocks * 512L).toInt
    }
    new GenericArrayData(out.toArray)
  }

  /** `tar_members(payload)`: the parser entry and its Column builder. */
  val tarMembers: ByteParser = ByteParser("tar_members",
    ArrayType(StructType(Seq(
    StructField("entry_idx", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("typeflag", StringType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(members)
}
