package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** OGG page walk (RFC 3533 — the container Opus/Vorbis audio ships
  * in; the audio-shard sibling of the mp4/mp3 legs of the header-demux
  * family): every page is a self-delimiting unit — capture pattern,
  * 27-byte header, a lacing table that encodes packet boundaries
  * (values < 255 COMPLETE a packet; 255 continues into the next
  * lacing value or page) — so "how many pages/packets, where is each
  * page's payload, what are the granule timestamps" is a header walk
  * that SEEKS past the audio bytes, never decoding them. The emitted
  * (offset, size) table is the ranged-read plan for a packet fetch.
  *
  * Wire format (all public RFC 3533 §6): "OggS" capture, version 0,
  * header_type flags (0x01 continued / 0x02 BOS / 0x04 EOS), 64-bit
  * LE granule_position, 32-bit LE serial + page sequence + CRC,
  * segment count, lacing table, then the payload. The page CRC is
  * verified (poly 0x04C11DB7, init 0, unreflected, CRC field zeroed —
  * RFC 3533 §6) — the tar-checksum convention: a corrupt page
  * quarantines, never mis-walks.
  *
  * Quarantine contract (family convention — EMPTY, never a wrong
  * offset): bad capture or version, header/lacing/payload running
  * past EOF, a CRC mismatch, or trailing garbage after the last page.
  * Clean EOF at a page boundary ends the walk. */
object OggWalk {

  private val empty = new GenericArrayData(Array.empty[Any])

  /** RFC 3533 CRC table: poly 0x04C11DB7, unreflected. */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  /** Page CRC over [p, p+len) with the 4 CRC bytes at p+22 as zero. */
  private def pageCrc(b: Array[Byte], p: Int, len: Int): Int = {
    var crc = 0
    var i = 0
    while (i < len) {
      val v = if (i >= 22 && i < 26) 0 else b(p + i) & 0xff
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ v) & 0xff)
      i += 1
    }
    crc
  }

  private def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  private def le64(b: Array[Byte], p: Int): Long =
    le32(b, p) | (le32(b, p + 4) << 32)

  /** Page table: array<struct<page_idx, serial, page_seq, granule,
    * is_bos, is_eos, is_continued, n_segments, n_packets, data_offset,
    * payload_size>> — n_packets counts packets COMPLETED on the page
    * (lacing values < 255); empty on any malformation. */
  def pages(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    var idx = 0L
    while (p < len) {
      if (p + 27 > len) return empty
      if (bytes(p) != 'O' || bytes(p + 1) != 'g' || bytes(p + 2) != 'g' ||
          bytes(p + 3) != 'S') return empty
      if (bytes(p + 4) != 0) return empty // stream_structure_version
      val htype = bytes(p + 5) & 0xff
      val granule = le64(bytes, p + 6)
      val serial = le32(bytes, p + 14)
      val seq = le32(bytes, p + 18)
      val crc = le32(bytes, p + 22)
      val nseg = bytes(p + 26) & 0xff
      if (p + 27 + nseg > len) return empty
      var payload = 0L
      var packets = 0L
      var s = 0
      while (s < nseg) {
        val l = bytes(p + 27 + s) & 0xff
        payload += l
        if (l < 255) packets += 1L
        s += 1
      }
      val pageLen = 27 + nseg + payload.toInt
      if (p + pageLen > len) return empty
      if ((pageCrc(bytes, p, pageLen) & 0xffffffffL) != crc) return empty
      out += InternalRow(idx, serial, seq, granule,
        if ((htype & 0x02) != 0) 1L else 0L,
        if ((htype & 0x04) != 0) 1L else 0L,
        if ((htype & 0x01) != 0) 1L else 0L,
        nseg.toLong, packets, (p + 27 + nseg).toLong, payload)
      idx += 1L
      p += pageLen
    }
    new GenericArrayData(out.toArray)
  }

  /** Encoder half (exposed for synthesizers/tests): the page CRC of a
    * fully-assembled page buffer, to be written at offset 22. */
  def crcOf(page: Array[Byte]): Int = pageCrc(page, 0, page.length)

  /** `ogg_pages(payload)`: the parser entry and its Column builder. */
  val oggPages: ByteParser = ByteParser("ogg_pages", ArrayType(StructType(Seq(
    StructField("page_idx", LongType, nullable = false),
    StructField("serial", LongType, nullable = false),
    StructField("page_seq", LongType, nullable = false),
    StructField("granule", LongType, nullable = false),
    StructField("is_bos", LongType, nullable = false),
    StructField("is_eos", LongType, nullable = false),
    StructField("is_continued", LongType, nullable = false),
    StructField("n_segments", LongType, nullable = false),
    StructField("n_packets", LongType, nullable = false),
    StructField("data_offset", LongType, nullable = false),
    StructField("payload_size", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(pages)
}
