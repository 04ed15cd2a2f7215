package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP central-directory walk — the RANDOM-ACCESS shard leg of the
  * header-demux family (G31's tar is the sequential-walk shard; zip
  * puts the member table at the END, so a reader fetches the last
  * ~66 KB, finds the End-Of-Central-Directory record, and has the
  * byte range of every member WITHOUT touching the data — the
  * archive format's own index). The emitted (name, method, sizes,
  * data offset) table is the ranged-read plan: at 100 TB a sample
  * fetch issues one ranged GET per wanted member.
  *
  * Wire format is the public PKWARE APPNOTE (the .ZIP File Format
  * Specification): EOCD sig 0x06054b50 (scanned backward through the
  * ≤65535-byte trailing comment), central entries sig 0x02014b50
  * (fixed 46 bytes + name/extra/comment), local headers sig
  * 0x04034b50 (fixed 30 bytes + name/extra) — all little-endian.
  *
  * Quarantine contract (the family convention): no/inconsistent
  * EOCD, a bad entry signature, an entry running past the directory,
  * an entry count mismatch, a local offset whose header lacks the
  * local signature, or data overrunning the directory start — all
  * return EMPTY, never a wrong offset. ZIP64 (0xffffffff markers) is
  * quarantined, not misread. */
object ZipWalk {

  private val empty = new GenericArrayData(Array.empty[Any])

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)

  private def u32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** Directory table: array<struct<entry_idx, name, method, csize,
    * usize, data_offset>> — data_offset addresses the member DATA
    * (local header + 30 + name + extra); empty on malformation. */
  def centralDir(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    if (len < 22) return empty
    // EOCD: backward scan through a possible trailing comment; the
    // record is self-consistent when its comment length reaches EOF
    var e = len - 22
    val stop = math.max(0, len - 22 - 65535)
    var found = -1
    while (e >= stop && found < 0) {
      if (bytes(e) == 0x50 && bytes(e + 1) == 0x4b &&
          bytes(e + 2) == 0x05 && bytes(e + 3) == 0x06 &&
          e + 22 + u16(bytes, e + 20) == len) found = e
      e -= 1
    }
    if (found < 0) return empty
    val nEntries = u16(bytes, found + 10)
    if (u16(bytes, found + 8) != nEntries) return empty // multi-disk
    val cdSize = u32(bytes, found + 12)
    val cdOff = u32(bytes, found + 16)
    if (cdOff == 0xffffffffL || cdOff + cdSize != found) return empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = cdOff.toInt
    var i = 0
    while (i < nEntries) {
      if (p + 46 > found) return empty
      if (u32(bytes, p) != 0x02014b50L) return empty
      val method = u16(bytes, p + 10)
      val csize = u32(bytes, p + 20)
      val usize = u32(bytes, p + 24)
      if (csize == 0xffffffffL || usize == 0xffffffffL) return empty
      val nameLen = u16(bytes, p + 28)
      val extraLen = u16(bytes, p + 30)
      val commentLen = u16(bytes, p + 32)
      val localOff = u32(bytes, p + 42)
      if (p + 46 + nameLen + extraLen + commentLen > found) return empty
      // APPNOTE §4.4.4: general-purpose bit 11 (EFS) declares the
      // name UTF-8; otherwise the legacy encoding is CP437, which
      // ISO-8859-1 maps byte-preserving for the ASCII range and
      // round-trips (no replacement chars) beyond it. WebDataset-era
      // writers set EFS, so non-ASCII sample keys group correctly.
      val gpFlags = u16(bytes, p + 8)
      val nameCharset =
        if ((gpFlags & 0x0800) != 0) java.nio.charset.StandardCharsets.UTF_8
        else java.nio.charset.StandardCharsets.ISO_8859_1
      val name = new String(bytes, p + 46, nameLen, nameCharset)
      // cross-check the local header: signature + its own name/extra
      // lengths give the true data offset
      if (localOff + 30 > cdOff) return empty
      if (u32(bytes, localOff.toInt) != 0x04034b50L) return empty
      val lNameLen = u16(bytes, localOff.toInt + 26)
      val lExtraLen = u16(bytes, localOff.toInt + 28)
      val dataOff = localOff + 30 + lNameLen + lExtraLen
      if (dataOff + csize > cdOff) return empty
      out += InternalRow(i.toLong, UTF8String.fromString(name),
        method.toLong, csize, usize, dataOff)
      p += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `zip_dir(payload)`: the parser entry and its Column builder. */
  val zipDir: ByteParser = ByteParser("zip_dir", ArrayType(StructType(Seq(
    StructField("entry_idx", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("method", LongType, nullable = false),
    StructField("csize", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("data_offset", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(centralDir)
}
