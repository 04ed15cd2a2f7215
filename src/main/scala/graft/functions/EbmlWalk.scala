package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MATROSKA/WebM track-directory walk over EBML (RFC 8794 + the
  * public Matroska element registry — the OTHER half of web video:
  * what isn't ISO-BMFF is overwhelmingly WebM/MKV, and its framing is
  * not boxes but EBML variable-length integers, so none of the
  * Mp4Demux machinery applies): parses the EBML header, descends
  * Segment → Info (TimestampScale) / Tracks (TrackEntry: number,
  * type, CodecID, the video DefaultDuration or audio Channels), and
  * counts Clusters with the first Cluster Timestamp — the routing
  * metadata ("which codec pool, which timescale, how many payload
  * clusters") from a header-sized read, no block decoded.
  *
  * Wire format: EBML VINTs (RFC 8794 §4) — the leading-zero count of
  * the first byte gives the length; element IDs keep the marker bit,
  * sizes strip it; an all-ones size payload means "unknown size".
  * Element IDs are the public Matroska registry (EBML 0x1A45DFA3,
  * Segment 0x18538067, Info 0x1549A966, TimestampScale 0x2AD7B1,
  * Tracks 0x1654AE6B, TrackEntry 0xAE, TrackNumber 0xD7, TrackType
  * 0x83, CodecID 0x86, DefaultDuration 0x23E383, Channels 0x9F,
  * Cluster 0x1F43B675, Timestamp 0xE7).
  *
  * Scope enforced (the ctts lesson): unknown-size is accepted ONLY
  * for Segment (the streaming/live convention — it then runs to
  * EOF); anywhere else it quarantines. A VINT with a zero lead byte,
  * any element overrunning its parent, or a uint wider than 8 bytes
  * quarantines the asset to an EMPTY array, never a wrong value. */
object EbmlWalk {

  private val empty = new GenericArrayData(Array.empty[Any])

  /** (value << 1 | length) of the VINT at p, marker KEPT (element
    * IDs); -1 on malformation. Lengths 1-4 cover all registry IDs. */
  private def vintId(b: Array[Byte], p: Int, end: Int): Long = {
    if (p >= end) return -1L
    val first = b(p) & 0xff
    if (first == 0) return -1L
    val len = Integer.numberOfLeadingZeros(first) - 23 // 32-8 bits
    if (len > 4 || p + len > end) return -1L
    var v = first.toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    (v << 3) | len.toLong
  }

  /** (size << 4 | length) of the size VINT at p, marker STRIPPED;
    * -1 malformed, -2 for the reserved all-ones "unknown size". */
  private def vintSize(b: Array[Byte], p: Int, end: Int): Long = {
    if (p >= end) return -1L
    val first = b(p) & 0xff
    if (first == 0) return -1L
    val len = Integer.numberOfLeadingZeros(first) - 23
    if (len > 8 || p + len > end) return -1L
    var v = (first & (0xff >>> len)).toLong
    var allOnes = (first & (0xff >>> len)) == (0xff >>> len)
    var i = 1
    while (i < len) {
      val x = b(p + i) & 0xff
      if (x != 0xff) allOnes = false
      v = (v << 8) | x
      i += 1
    }
    if (allOnes) return -2L
    if (v > Int.MaxValue / 2) return -1L
    (v << 4) | len.toLong
  }

  /** Big-endian uint of a 1-8 byte element payload; -1 malformed. */
  private def beUint(b: Array[Byte], p: Int, n: Int): Long = {
    if (n < 1 || n > 8) return -1L
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    v
  }

  /** First child element with `id` inside [lo, hi): packed
    * (payloadLo << 32) | payloadEnd, or -1. */
  private def findEl(b: Array[Byte], lo: Int, hi: Int, id: Long): Long = {
    var p = lo
    while (p < hi) {
      val iv = vintId(b, p, hi)
      if (iv < 0L) return -1L
      val idLen = (iv & 7L).toInt
      val elId = iv >>> 3
      val sv = vintSize(b, p + idLen, hi)
      if (sv == -1L || sv == -2L) return -1L // unknown size: not here
      val szLen = (sv & 15L).toInt
      val sz = (sv >>> 4).toInt
      val dataLo = p + idLen + szLen
      if (dataLo + sz > hi) return -1L
      if (elId == id) return (dataLo.toLong << 32) | (dataLo + sz).toLong
      p = dataLo + sz
    }
    -1L
  }

  private def loOf(x: Long): Int = (x >>> 32).toInt
  private def hiOf(x: Long): Int = (x & 0xffffffffL).toInt

  /** Track directory: array<struct<track_idx, track_number,
    * track_type, codec_id, detail, timescale_ns, n_clusters,
    * cluster0_ts>>; empty on malformation / out-of-scope layout.
    * `detail` is DefaultDuration (video) or Channels (audio) — the
    * first one present in the entry; -1 when neither is. */
  def tracks(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    if (len < 8) return empty
    // EBML header must come first
    val hdr = {
      val iv = vintId(bytes, 0, len)
      if (iv < 0L || (iv >>> 3) != 0x1A45DFA3L) return empty
      val idLen = (iv & 7L).toInt
      val sv = vintSize(bytes, idLen, len)
      if (sv < 0L) return empty
      val szLen = (sv & 15L).toInt
      val sz = (sv >>> 4).toInt
      if (idLen + szLen + sz > len) return empty
      idLen + szLen + sz
    }
    // Segment: known size or unknown-size-to-EOF (streaming scope)
    val segIv = vintId(bytes, hdr, len)
    if (segIv < 0L || (segIv >>> 3) != 0x18538067L) return empty
    val segIdLen = (segIv & 7L).toInt
    val segSv = vintSize(bytes, hdr + segIdLen, len)
    if (segSv == -1L) return empty
    val (segLo, segHi) =
      if (segSv == -2L) {
        // unknown size: read the VINT length from the lead byte
        val first = bytes(hdr + segIdLen) & 0xff
        val l = Integer.numberOfLeadingZeros(first) - 23
        (hdr + segIdLen + l, len)
      } else {
        val szLen = (segSv & 15L).toInt
        val sz = (segSv >>> 4).toInt
        if (hdr + segIdLen + szLen + sz > len) return empty
        (hdr + segIdLen + szLen, hdr + segIdLen + szLen + sz)
      }
    // Info → TimestampScale (default 1_000_000 ns per Matroska spec)
    var timescale = 1000000L
    val info = findEl(bytes, segLo, segHi, 0x1549A966L)
    if (info >= 0L) {
      val ts = findEl(bytes, loOf(info), hiOf(info), 0x2AD7B1L)
      if (ts >= 0L) {
        val v = beUint(bytes, loOf(ts), hiOf(ts) - loOf(ts))
        if (v < 0L) return empty
        timescale = v
      }
    }
    // Clusters: count + first Timestamp
    var nClusters = 0L
    var cluster0 = -1L
    var p = segLo
    while (p < segHi) {
      val iv = vintId(bytes, p, segHi)
      if (iv < 0L) return empty
      val idLen = (iv & 7L).toInt
      val sv = vintSize(bytes, p + idLen, segHi)
      if (sv < 0L) return empty // unknown-size child: out of scope
      val szLen = (sv & 15L).toInt
      val sz = (sv >>> 4).toInt
      val dataLo = p + idLen + szLen
      if (dataLo + sz > segHi) return empty
      if ((iv >>> 3) == 0x1F43B675L) {
        nClusters += 1L
        if (cluster0 < 0L) {
          val t = findEl(bytes, dataLo, dataLo + sz, 0xE7L)
          if (t >= 0L) cluster0 = beUint(bytes, loOf(t), hiOf(t) - loOf(t))
        }
      }
      p = dataLo + sz
    }
    // Tracks → TrackEntry*
    val tracksEl = findEl(bytes, segLo, segHi, 0x1654AE6BL)
    if (tracksEl < 0L) return empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var q = loOf(tracksEl)
    val tEnd = hiOf(tracksEl)
    var idx = 0L
    while (q < tEnd) {
      val iv = vintId(bytes, q, tEnd)
      if (iv < 0L) return empty
      val idLen = (iv & 7L).toInt
      val sv = vintSize(bytes, q + idLen, tEnd)
      if (sv < 0L) return empty
      val szLen = (sv & 15L).toInt
      val sz = (sv >>> 4).toInt
      val lo = q + idLen + szLen
      if (lo + sz > tEnd) return empty
      if ((iv >>> 3) == 0xAEL) {
        val num = findEl(bytes, lo, lo + sz, 0xD7L)
        val typ = findEl(bytes, lo, lo + sz, 0x83L)
        val codec = findEl(bytes, lo, lo + sz, 0x86L)
        if (num < 0L || typ < 0L || codec < 0L) return empty
        val dd = findEl(bytes, lo, lo + sz, 0x23E383L)
        val ch = findEl(bytes, lo, lo + sz, 0x9FL)
        val detail =
          if (dd >= 0L) beUint(bytes, loOf(dd), hiOf(dd) - loOf(dd))
          else if (ch >= 0L) beUint(bytes, loOf(ch), hiOf(ch) - loOf(ch))
          else -1L
        out += InternalRow(idx,
          beUint(bytes, loOf(num), hiOf(num) - loOf(num)),
          beUint(bytes, loOf(typ), hiOf(typ) - loOf(typ)),
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(
            bytes, loOf(codec), hiOf(codec))),
          detail, timescale, nClusters, cluster0)
        idx += 1L
      }
      q = lo + sz
    }
    new GenericArrayData(out.toArray)
  }

  /** `mkv_tracks(payload)`: the parser entry and its Column builder. */
  val mkvTracks: ByteParser = ByteParser("mkv_tracks", ArrayType(StructType(Seq(
    StructField("track_idx", LongType, nullable = false),
    StructField("track_number", LongType, nullable = false),
    StructField("track_type", LongType, nullable = false),
    StructField("codec_id", StringType, nullable = false),
    StructField("detail", LongType, nullable = false),
    StructField("timescale_ns", LongType, nullable = false),
    StructField("n_clusters", LongType, nullable = false),
    StructField("cluster0_ts", LongType, nullable = false))),
    containsNull = false),
    nullOnMalformed = false)(tracks)
}
